"""Parity gates for the r8 gram-builder rewrites (guide §1.2: fix the
per-task work without changing what any query computes).

The four gram builders used to construct grams inside a higher-order
``transform`` lambda (interpreted, no codegen) with per-position
``substring`` on the string (O(i) per call → O(len²) per doc).  The r8
forms split once to an array, explode start positions, and index.  These
tests pin the rewritten outputs against a literal re-implementation of
the OLD higher-order forms on adversarial inputs: empty strings, texts
shorter than the window, repeated grams (multiset semantics), multi-byte
and astral code points (split('') must agree with substring), leading /
trailing / doubled separators, and null text.
"""

import pytest
from pyspark.sql import functions as F

from ds_raster_pipelines_spark.operators.dedup import (
    positional_word_ngrams,
    tokenize_ngrams,
    tokenize_word_ngrams,
)
from ds_raster_pipelines_spark.operators.text import char_ngrams

TEXTS = [
    "",
    "ab",
    "abc",
    "abcabcabc",
    "a b",
    "one two three four five six seven eight nine ten",
    "dup dup dup dup dup dup dup dup dup dup",
    " leading and  doubled  spaces trailing ",
    "café naïve \U0001F600 suré 中文 mix",
    "w " * 40,
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hof_char_ngrams(df, n, distinct=False):
    grams = F.when(
        F.length("text") >= n,
        F.expr(
            f"transform(sequence(1, length(text) - {n - 1}),"
            f" i -> substring(text, i, {n}))"
        ),
    ).otherwise(F.array())
    out = df.select("doc_id", F.explode(grams).alias("g"))
    return out.distinct() if distinct else out


def _hof_word_ngrams(df, n, positional=False):
    words = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if positional:
        return df.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    return df.select("doc_id", F.explode(grams).alias("w")).distinct()


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n", [2, 3, 5])
def test_char_ngrams_matches_hof(docs, n):
    assert _sorted(char_ngrams(docs, n)) == _sorted(_hof_char_ngrams(docs, n))


@pytest.mark.parametrize("n", [2, 3])
def test_tokenize_ngrams_matches_hof(docs, n):
    assert _sorted(tokenize_ngrams(docs, n)) == _sorted(
        _hof_char_ngrams(docs, n, distinct=True)
    )


@pytest.mark.parametrize("n", [3, 8])
def test_tokenize_word_ngrams_matches_hof(docs, n):
    assert _sorted(tokenize_word_ngrams(docs, n)) == _sorted(
        _hof_word_ngrams(docs, n)
    )


@pytest.mark.parametrize("n", [3, 8])
def test_positional_word_ngrams_matches_hof(docs, n):
    assert _sorted(positional_word_ngrams(docs, n)) == _sorted(
        _hof_word_ngrams(docs, n, positional=True)
    )


def test_char_ngrams_multiset_keeps_repeats(docs):
    # "abcabcabc" must yield 'abc' three times (multiset, not set)
    rows = (
        char_ngrams(docs.where("doc_id = 3"), 3)
        .groupBy("g")
        .count()
        .collect()
    )
    counts = {r["g"]: r["count"] for r in rows}
    assert counts["abc"] == 3 and counts["bca"] == 2 and counts["cab"] == 2


def _kernel_legs(kernel, native_name, drop_toolchain):
    """Run an Arrow text kernel in this process and name the path each
    batch took: the Python twin on a batch holding the null text (any
    null sends the whole batch there), the native call on a null-free
    batch when the library loads, and the Python twin on the null-free
    batch once the toolchain is gone. On a host without a toolchain only
    the two twin legs run. Returns the row sets, each sorted."""
    import pyarrow as pa

    from ds_raster_pipelines_spark import native

    def batch(with_null):
        rows = [(i, t) for i, t in enumerate(TEXTS) if with_null or t is not None]
        return pa.record_batch({
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
        })

    def run(b):
        return sorted(tuple(r.values()) for r in pa.Table.from_batches(list(kernel([b]))).to_pylist())

    before = native.fallbacks[native_name]
    legs = [run(batch(with_null=True))]
    if native.get_lib() is not None:
        legs.append(run(batch(with_null=False)))
        assert native.fallbacks[native_name] == before, native.fallbacks
        drop_toolchain()  # also empties native.fallbacks
        before = 0
    legs.append(run(batch(with_null=False)))
    assert native.get_lib() is None
    assert native.fallbacks[native_name] == before + 1, native.fallbacks
    return legs


@pytest.mark.parametrize("n", [2, 8])
def test_positional_gram_hashes_matches_expression(docs, n, kernel_frame, drop_toolchain):
    """The C/Arrow gram-hash kernel (_positional_gram_hashes) must equal
    the Column-expression form positional_word_ngrams + md5_int on every
    adversarial text (empties, doubled/leading/trailing spaces, repeats,
    multi-byte UTF-8, nulls) — on the native path and on its hashlib twin,
    both for a batch with a null text and without the toolchain."""
    from ds_raster_pipelines_spark.functions.hashing import md5_int
    from ds_raster_pipelines_spark.operators.dedup import (
        _positional_gram_hashes,
        positional_word_ngrams,
    )

    expected = _sorted(
        positional_word_ngrams(docs, n).select(
            "doc_id", "pos", md5_int(F.col("gram")).alias("h")
        )
    )
    kernel = _positional_gram_hashes(kernel_frame, n)
    for rows in _kernel_legs(kernel, "md5_word_grams", drop_toolchain):
        assert rows == expected


def test_minhash_kernel_matches_expression(docs, kernel_frame, drop_toolchain):
    """The C/Arrow MinHash signature kernel == the word-explode +
    md5_int + grouped-min expression chain on adversarial texts — on the
    native path and on its hashlib twin, both for a batch with a null text
    and without the toolchain."""
    from ds_raster_pipelines_spark.operators.dedup import (
        _signatures_from_words,
        _signatures_kernel_md5,
        tokenize,
    )

    expected = _sorted(
        _signatures_from_words(tokenize(docs, distinct=True), "md5")
    )
    kernel = _signatures_kernel_md5(kernel_frame)
    for rows in _kernel_legs(kernel, "minhash_doc_sigs", drop_toolchain):
        assert rows == expected


def test_lm_score_kernel_matches_join(docs, kernel_frame, drop_toolchain):
    """ngram_lm_scores' packed-table kernel == the gram-explode +
    broadcast-join form on adversarial texts (astral chars, nulls, short
    docs): through Spark, and in this process on the native path and on
    its Python twin, both for a batch with a null text and without the
    toolchain."""
    from ds_raster_pipelines_spark.functions.hashing import md5_int
    from ds_raster_pipelines_spark.operators.text import (
        _lm_score_kernel,
        char_ngrams,
        ngram_lm_scores,
    )

    # the join form, with the LM derived as ngram_lm_scores derives it
    train = docs.where(
        md5_int(F.concat(F.lit("lm"), F.col("doc_id").cast("string"))) % 100 < 50
    )
    lm = (
        char_ngrams(train, 3)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tv = lm.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    denom = float(tv["t"] + tv["v"])
    logp = F.round(F.log((F.col("cnt") + 1) / F.lit(denom)) * 1e6, 0).cast("long")
    lm2 = lm.select("g", logp.alias("logp_micro"))
    logp0 = F.round(F.log(F.lit(1.0) / F.lit(denom)) * 1e6, 0).cast("long")
    expect = _sorted(
        char_ngrams(docs, 3)
        .join(F.broadcast(lm2), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("logp_micro"), logp0)).alias("logp_micro"),
        )
    )
    assert _sorted(ngram_lm_scores(docs)) == expect
    lm_pairs = [(r["g"], r["logp_micro"]) for r in lm2.collect()]
    logp0_int = docs.sparkSession.range(1).select(logp0).collect()[0][0]
    kernel = _lm_score_kernel(kernel_frame, "text", 3, lm_pairs, logp0_int)
    for rows in _kernel_legs(kernel, "lm_score_docs", drop_toolchain):
        assert rows == expect


def test_lm_collect_bound_takes_join_form(docs, monkeypatch, caplog):
    """An LM over _LM_COLLECT_MAX rows is never collected to the driver:
    ngram_lm_scores scores it with the broadcast-join form instead, logs
    why, and returns exactly what the kernel path returns."""
    from ds_raster_pipelines_spark.operators import text

    kernel_df = text.ngram_lm_scores(docs)
    monkeypatch.setattr(text, "_LM_COLLECT_MAX", 1)
    with caplog.at_level("WARNING", logger=text.__name__):
        join_df = text.ngram_lm_scores(docs)
    assert [r.levelname for r in caplog.records] == ["WARNING"]
    kernel_plan = kernel_df._jdf.queryExecution().executedPlan().toString()
    join_plan = join_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in kernel_plan and "MapInArrow" not in join_plan
    assert _sorted(join_df) == _sorted(kernel_df)
