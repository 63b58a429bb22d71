"""Call census: which package functions the workloads run, and which
never-run ones only tests read.

    python tools/call_census.py [sf_dir] [--out CALL_CENSUS.json]

Three kinds of traffic are measured, each in a child process whose
``PYTHONPATH`` starts with a temporary directory holding a recording
``sitecustomize.py``:

1. ``tools/oracle_check.py [sf_dir]`` (default: the script's own, sf0.01)
   with ``corpus.CACHE_ROOT`` and the compiled-kernel cache pointed at
   empty temporary directories, so every stored corpus is built and every
   kernel compiled (cold);
2. the same check again over the caches the first run filled (warm);
3. ``perfbench/run.py --workload W --seconds 5 --trace 1`` for each of
   ``flagship_zonal``, ``video_mjpeg`` and ``text_dedup``.

Every Python process these start (the main process, the PySpark daemon
and each worker it forks) installs a ``sys.setprofile`` recorder that appends each
package code object the first time it runs to its own per-pid file,
line-buffered: PySpark workers leave through ``os._exit``, which skips
``atexit`` and any buffered write.

A def (function, method or nested function) that never ran is then looked
up in a static pass. It is *read* when a def that ran, module-level code,
a ``@register``-ed query or a file outside ``tests/`` (``tools/``,
``bench.py``, ``bench_extra.py``, ``perfbench/``, ``run_pipeline.py``,
``__spark_entry__.py``) reads its name, directly or through other read
defs. A never-run def nothing reads must be in :data:`KEEP`, with the
reason it stays; otherwise its verdict is ``delete``. The JSON lists every
never-run def with its verdict; the exit status is 1 when a run failed or
some verdict is ``delete``.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_NAME = "ds_raster_pipelines_spark"
PKG = ROOT / PKG_NAME
WORKLOADS = ("flagship_zonal", "video_mjpeg", "text_dedup")

# Never-run defs that no code outside tests reads, and why each stays.
# Keys are "<path in the package>:<qualname>".
_TWIN = "reference twin: tests compare the live path against it"
_FIXTURE = "fixture encoder: tests feed its output to a live decoder"
_H3 = "the only implementation of an H3-style index operation (BASELINE goal)"
_ICEBERG = "the only implementation of an Iceberg-style table operation (BASELINE goal)"
_REMOTE = "the only remote/ranged source (SURVEY S5/S6), checked over loopback by tests"
_MERGE = ("sketch merge (SURVEY A9 mergeability); its removal would take three "
          "mergeability tests with it and is left to a change of its own")
_MEDIA = ("codec-dispatching media reader; its removal would take seven blob-reader "
          "contract tests with it and is left to a change of its own")
KEEP: dict[str, str] = {
    "avi.py:decode_avi_frames": _TWIN + " (per-blob decode of frame_stats_columns)",
    "grid.py:centroid_np": _TWIN + " (centroid_sql)",
    "grid.py:centroid_cols": _H3 + " (cell centre)",
    "grid.py:uncompact_cells": _H3 + " (uncompact)",
    "operators/layout.py:zorder_np": _TWIN + " (zorder_sql)",
    "operators/dedup.py:positional_word_ngrams": _TWIN + " (the positional gram kernel)",
    "operators/raster.py:reproject_webmercator": _TWIN + " (the band warp of reproject_webmercator_sum256)",
    "operators/raster.py:vectorize_mask": "the only raster->vector operator (BASELINE goal)",
    "operators/raster.py:vectorize_mask.<locals>.kernel": "the kernel of vectorize_mask",
    "operators/sketches.py:hll_merge": _MERGE,
    "operators/sketches.py:histogram_merge": _MERGE,
    "operators/sketches.py:cms_merge": _MERGE,
    "operators/validate.py:assert_schema": "the reference's schema validation (SURVEY V1)",
    "plans/requests.py:expected_partitions": "request compilation's coverage grid (SURVEY S7)",
    "sources/gribfiles.py:request_filter_keys": "request compilation to GRIB filters (SURVEY S7)",
    "sources/multimodal.py:audio_features": _MEDIA,
    "sources/multimodal.py:audio_features.<locals>.features": _MEDIA,
    "sources/multimodal.py:audio_features.<locals>.kernel": _MEDIA,
    "sources/multimodal.py:sample_frames": _MEDIA,
    "sources/multimodal.py:sample_frames.<locals>.kernel": _MEDIA,
    "sources/multimodal.py:encode_wav": _FIXTURE,
    "sources/multimodal.py:encode_wav_adpcm": _FIXTURE,
    "sources/remote.py:file_fetcher": _REMOTE,
    "sources/remote.py:http_fetcher": _REMOTE,
    "sources/remote.py:with_retry": _REMOTE,
    "sources/remote.py:fetch_blobs": _REMOTE,
    "sources/remote.py:file_range_fetcher": _REMOTE,
    "sources/remote.py:http_range_fetcher": _REMOTE,
    "sources/remote.py:ranged": _REMOTE,
    "tiff.py:decode_tif_overview_ranged": _REMOTE + " (ranged COG overview read)",
    "streaming/incremental.py:IncrementalRun.expire_snapshots": _ICEBERG + " (snapshot expiry)",
    "streaming/incremental.py:IncrementalRun.evolve_schema": _ICEBERG + " (schema evolution)",
    "streaming/incremental.py:IncrementalRun.set_partition_spec": _ICEBERG + " (partition spec)",
    "streaming/incremental.py:IncrementalRun.partition_spec": _ICEBERG + " (partition spec)",
    "streaming/incremental.py:IncrementalRun.transform_values": _ICEBERG + " (partition transforms)",
    "streaming/incremental.py:IncrementalRun.commit_transformed": _ICEBERG + " (partition transforms)",
    "streaming/incremental.py:IncrementalRun.prune_for": _ICEBERG + " (hidden-partition pruning)",
    "streaming/incremental.py:IncrementalRun.read_cell_range": _ICEBERG + " (pruned read)",
    "streaming/incremental.py:IncrementalRun.verify": _ICEBERG + " (manifest verification)",
}

RECORDER = '''\
import os
import sys
import threading

_OUT = {out!r}
_MARK = {mark!r}
_seen = set()
_file = None


def _reset():
    global _file
    _file = None


def _record(frame, event, arg):
    global _file
    if event == "call":
        co = frame.f_code
        if co not in _seen:
            _seen.add(co)
            if _MARK in co.co_filename:
                if _file is None:
                    _file = open(os.path.join(_OUT, f"{{os.getpid()}}.tsv"), "a", buffering=1)
                _file.write(f"{{co.co_filename}}\\t{{co.co_qualname}}\\n")


os.register_at_fork(after_in_child=_reset)
sys.setprofile(_record)
threading.setprofile(_record)
'''

# Run in the census child for the oracle checks: point the stored-corpus
# cache where the census says, then run the script as its own main.
_ORACLE = """\
import runpy, sys
sys.path.insert(0, {root!r})
from ds_raster_pipelines_spark import corpus
corpus.CACHE_ROOT = {cache!r}
sys.argv = [{script!r}] + {sf_args!r}
runpy.run_path({script!r}, run_name="__main__")
"""


# ------------------------------------------------------------ the runs ---


def _run(label: str, argv: list[str], env: dict, log_dir: Path) -> dict:
    t0 = time.perf_counter()
    log = log_dir / f"{label}.log"
    with open(log, "w") as fh:
        rc = subprocess.run(argv, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT).returncode
    lines = [ln for ln in log.read_text(errors="replace").splitlines() if ln.strip()]
    secs = round(time.perf_counter() - t0, 1)
    tail = lines[-20:] if rc else [ln[:120] for ln in lines[-1:]]
    print(f"{label}: exit {rc} in {secs:.0f} s", *tail, sep="\n  ", flush=True)
    out = {"run": label, "exit": rc, "seconds": secs}
    try:  # perfbench ends with one JSON object
        last = json.loads(lines[-1])
        out.update({k: last[k] for k in ("correct", "attempted", "failed")})
    except (IndexError, ValueError, TypeError, KeyError):
        out["last_line"] = lines[-1][:300] if lines else ""
    return out


def run_traffic(sf_dir: str | None, work: Path) -> tuple[list[dict], set[tuple[str, str]]]:
    """Run the three kinds of traffic under the recorder; return the run
    records and the (path in the package, qualname) of every code object
    that ran in any process."""
    rec, cache, logs = work / "rec", work / "cache", work / "logs"
    for d in (rec, cache / "corpus", cache / "native", logs):
        d.mkdir(parents=True)
    site = work / "site"
    site.mkdir()
    (site / "sitecustomize.py").write_text(
        RECORDER.format(out=str(rec), mark=PKG_NAME + os.sep))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(site), str(ROOT), env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_NATIVE_DIR"] = str(cache / "native")
    oracle = [sys.executable, "-c", _ORACLE.format(
        root=str(ROOT), cache=str(cache / "corpus"), sf_args=[sf_dir] if sf_dir else [],
        script=str(ROOT / "tools" / "oracle_check.py"))]
    runs = [_run("oracle_cold", oracle, env, logs), _run("oracle_warm", oracle, env, logs)]
    for wl in WORKLOADS:
        argv = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", wl,
                "--seconds", "5", "--trace", "1"]
        runs.append(_run(f"perfbench_{wl}", argv, env, logs))
    ran = set()
    files = sorted(rec.glob("*.tsv"))
    for f in files:
        for line in f.read_text().splitlines():
            path, qual = line.split("\t")
            ran.add((path.rsplit(PKG_NAME + os.sep, 1)[1], qual))
    runs.append({"run": "recorder", "processes": len(files), "code_objects": len(ran)})
    return runs, ran


# ------------------------------------------------------ the static pass ---


class Def:
    def __init__(self, rel: str, qual: str, node: ast.AST, parent: "Def | None"):
        self.rel, self.qual, self.node, self.parent = rel, qual, node, parent
        self.name = node.name
        self.first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        self.lines = node.end_lineno - self.first + 1
        self.cls = isinstance(node, ast.ClassDef)
        self.reads: set[tuple[str, str | None, str]] = set()

    @property
    def key(self) -> str:
        return f"{self.rel}:{self.qual}"


def _module_of(rel_file: Path) -> str:
    parts = list(rel_file.with_suffix("").parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


class _Reads(ast.NodeVisitor):
    """Collect what one file reads, per enclosing def (None: module-level
    code): ("name", None, n) for a bare name, looked up lexically;
    ("attr", None, n) for an attribute, matched by simple name anywhere;
    ("import", module, n) for ``from module import n``."""

    def __init__(self, module: str, is_pkg: bool, rel: str | None, defs: list[Def]):
        self.module, self.is_pkg, self.rel, self.defs = module, is_pkg, rel, defs
        self.stack: list[Def | None] = [None]
        self.quals: list[str] = []
        self.top: set[tuple[str, str | None, str]] = set()

    def _add(self, read):
        cur = self.stack[-1]
        (cur.reads if cur is not None else self.top).add(read)

    def _enter(self, node):
        # decorators, defaults and bases are evaluated in the enclosing scope
        for d in node.decorator_list:
            self.visit(d)
        if isinstance(node, ast.ClassDef):
            for b in node.bases + [k.value for k in node.keywords]:
                self.visit(b)
        else:
            for d in node.args.defaults + [d for d in node.args.kw_defaults if d]:
                self.visit(d)
        d = None
        if self.rel is not None:
            d = Def(self.rel, ".".join(self.quals + [node.name]), node, self.stack[-1])
            self.defs.append(d)
        self.stack.append(d)
        scope = [node.name] if isinstance(node, ast.ClassDef) else [node.name, "<locals>"]
        self.quals += scope
        for stmt in node.body:
            self.visit(stmt)
        del self.quals[-len(scope):]
        self.stack.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _enter

    def visit_Name(self, node):
        if isinstance(node.ctx, ast.Load):
            self._add(("name", None, node.id))

    def visit_Attribute(self, node):
        self._add(("attr", None, node.attr))
        self.generic_visit(node)

    def visit_ImportFrom(self, node):
        if node.level:
            base = self.module.split(".")[: None if self.is_pkg else -1]
            base = base[: len(base) - (node.level - 1)]
            target = ".".join(base + ([node.module] if node.module else []))
        else:
            target = node.module or ""
        for a in node.names:
            self._add(("import", target, a.name))


def static_pass(ran: set[tuple[str, str]]) -> list[dict]:
    """Every function in the package with whether it ran and, when it did
    not, what keeps it: its :data:`KEEP` reason or the first reader that
    reaches it (None when nothing does)."""
    defs: list[Def] = []
    roots: list[tuple[tuple, str, str | None]] = []  # (read, label, file it is in)
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        v = _Reads(_module_of(p.relative_to(ROOT)), p.name == "__init__.py", rel, defs)
        v.visit(ast.parse(p.read_text()))
        roots += [(r, f"module-level code of {rel}", rel) for r in v.top]
    outside = [ROOT / f for f in ("bench.py", "bench_extra.py", "run_pipeline.py",
                                  "__spark_entry__.py")]
    outside += sorted((ROOT / "perfbench").glob("*.py"))
    outside += [p for p in sorted((ROOT / "tools").rglob("*.py")) if p.name != "call_census.py"]
    for p in outside:
        v = _Reads(_module_of(p.relative_to(ROOT)), False, None, [])
        v.visit(ast.parse(p.read_text()))
        # a bare name in a file outside the package is one of its own
        roots += [(r, p.relative_to(ROOT).as_posix(), None) for r in v.top if r[0] != "name"]

    by_name: dict[str, list[Def]] = defaultdict(list)
    children: dict[tuple[str, str | None, str], list[Def]] = defaultdict(list)
    for d in defs:
        by_name[d.name].append(d)
        children[(d.rel, d.parent.key if d.parent else None, d.name)].append(d)
    top_level = {(PKG_NAME + "." + _module_of(Path(d.rel)), d.name): d
                 for d in defs if d.parent is None}

    def resolve(read, rel, owner):
        kind, module, name = read
        if kind == "attr":
            return by_name.get(name, [])
        if kind == "import":
            hit = top_level.get((module, name))
            # a package re-export or a submodule: fall back to the name
            if hit:
                return [hit]
            return by_name.get(name, []) if module.startswith(PKG_NAME) else []
        # a bare name: the innermost enclosing function that defines it,
        # else the module's own top-level def (class scopes do not enclose)
        scope = owner
        while scope is not None:
            if not scope.cls and children.get((rel, scope.key, name)):
                return children[(rel, scope.key, name)]
            scope = scope.parent
        return children.get((rel, None, name), [])

    did_run = {d.key: (d.rel, d.qual) in ran for d in defs}
    for d in defs:  # a class ran when one of its methods ran
        if d.cls:
            did_run[d.key] = any(did_run[m.key] for m in defs if m.parent is d)
    reader: dict[str, str] = {}
    for d in defs:
        if did_run[d.key]:
            reader[d.key] = "ran"
        elif any(isinstance(x, ast.Call) and getattr(x.func, "id", "") == "register"
                 for x in getattr(d.node, "decorator_list", [])):
            reader[d.key] = "registered query"
        elif d.key in KEEP:  # what a kept def reads stays with it
            reader[d.key] = "keep: " + KEEP[d.key]

    queue = [(r, label, rel, None) for r, label, rel in roots]

    def reach(d):
        queue.extend((r, d.qual, d.rel, d) for r in d.reads)
        for m in defs:  # the interpreter calls a reached class's own dunders
            if d.cls and m.parent is d and m.name.startswith("__") and m.key not in reader:
                reader[m.key] = f"read by {d.qual}"
                reach(m)

    for d in [d for d in defs if d.key in reader]:
        reach(d)
    while queue:
        read, label, rel, owner = queue.pop()
        for d in resolve(read, rel, owner):
            if d.key not in reader:
                reader[d.key] = f"read by {label}"
                reach(d)
    return [
        {"file": f"{PKG_NAME}/{d.rel}", "line": d.first, "qualname": d.qual, "lines": d.lines,
         "ran": did_run[d.key], "reader": reader.get(d.key)}
        for d in defs if not d.cls
    ]


def census(entries: list[dict], runs: list[dict]) -> dict:
    never = [e for e in entries if not e["ran"]]
    out = [{k: e[k] for k in ("file", "line", "qualname", "lines")}
           | {"verdict": e["reader"] or "delete"} for e in never]
    unread = [e for e in out if not e["verdict"].startswith("read by")]
    return {
        "runs": runs,
        "defs": len(entries),
        "never_run": len(never),
        "never_run_lines": sum(e["lines"] for e in never),
        "never_run_unread": len(unread),
        "never_run_unread_lines": sum(e["lines"] for e in unread),
        "delete": sum(e["verdict"] == "delete" for e in out),
        "entries": out,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?")
    ap.add_argument("--out", default=str(ROOT / "CALL_CENSUS.json"))
    args = ap.parse_args(argv)
    work = Path(tempfile.mkdtemp(prefix="call_census_"))
    try:
        runs, ran = run_traffic(args.sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = census(static_pass(ran), runs)
    Path(args.out).write_text(json.dumps(result, indent=1) + "\n")
    print(f"{result['defs']} defs, {result['never_run']} never ran "
          f"({result['never_run_lines']} lines), {result['never_run_unread']} of them "
          f"unread outside tests, {result['delete']} without a keep verdict -> {args.out}")
    failed = [r["run"] for r in runs if r.get("exit")]
    return 1 if failed or result["delete"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
