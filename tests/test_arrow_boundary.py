"""Where the package crosses the engine↔Python boundary with a pandas frame,
and where it decodes a blob.

A pandas UDF (``mapInPandas``/``applyInPandas``) converts every batch to a
frame of Python objects; for a binary column that conversion costs more
than the decode. So the pandas sites are a fixed list, each one saying why
a frame is the point, and every container blob is decoded under
``BlobBatch`` (sources/images.py), the one reader that owns the payload
views and the canonical errors.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ds_raster_pipelines_spark"

PANDAS_UDFS = {"mapInPandas", "applyInPandas"}
MARKER = "# pandas frame on purpose:"
# (module, top-level function) of every pandas UDF call site in the package
SANCTIONED = {
    ("corpus.py", "images_from_ids"),
    ("operators/pip.py", "polygon_cover_cells"),
    ("operators/similarity.py", "cosine_topk"),
    ("operators/similarity.py", "lsh_near_dup_pairs"),
    ("operators/similarity.py", "semdedup_prune"),
    ("sinks.py", "write_cube_nc"),
    ("sources/archives.py", "build_monthly_archives"),
    ("sources/remote.py", "fetch_blobs"),
}

BLOB_DECODERS = {
    "decode_wav", "decode_flac", "decode_mp2",  # audio
    "list_members", "read_member", "decode_zip",  # ziparchive
    "scan_messages",  # grib
    "decode_nc",  # netcdf
}
BLOB_READERS = {
    "audio_stats_exact", "mp2_psnr_stats", "audio_features", "sample_frames",
    "video_frame_stats", "explode_zip_members", "explode_grib_ensemble",
    "zipped_shapefile_features", "read_cube_nc",
}


def _called_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _top_level_calls(tree: ast.Module, names: set[str]):
    """(top-level def name or None, call node) of every call to ``names``."""
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and _called_name(node) in names:
                yield getattr(top, "name", None), node


def _modules():
    return {p.relative_to(PKG).as_posix(): p for p in sorted(PKG.rglob("*.py"))}


def test_pandas_udf_sites_are_the_sanctioned_ones():
    found, unmarked = set(), []
    for rel, p in _modules().items():
        src = p.read_text()
        lines = src.splitlines()
        for fn, call in _top_level_calls(ast.parse(src), PANDAS_UDFS):
            found.add((rel, fn))
            if not any(MARKER in ln for ln in lines[max(0, call.lineno - 4) : call.lineno]):
                unmarked.append(f"{rel}:{call.lineno} ({fn})")
    assert found == SANCTIONED, sorted(found ^ SANCTIONED)
    assert not unmarked, f"pandas UDF sites without a '{MARKER}' comment: {unmarked}"


def test_blob_decoders_run_only_under_blob_batch():
    """In sources/ and sinks.py, a blob decoder is called by a BlobBatch
    user, or by a helper that only BlobBatch users reference (the per-blob
    function a user hands to ``BlobBatch.map``)."""
    mods = {
        rel: ast.parse(p.read_text())
        for rel, p in _modules().items()
        if rel.startswith("sources/") or rel == "sinks.py"
    }
    users, refs = set(), {}
    for rel, tree in mods.items():
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            names = {
                n.id if isinstance(n, ast.Name) else n.attr
                for n in ast.walk(top)
                if isinstance(n, (ast.Name, ast.Attribute))
            }
            if "BlobBatch" in names:
                users.add((rel, top.name))
            for name in names:
                refs.setdefault(name, set()).add((rel, top.name))
    assert BLOB_READERS <= {fn for _, fn in users}, BLOB_READERS - {fn for _, fn in users}
    bad = []
    for rel, tree in mods.items():
        for fn, call in _top_level_calls(tree, BLOB_DECODERS):
            if (rel, fn) in users:
                continue
            callers = refs.get(fn, set()) - {(rel, fn)}
            if not callers or not callers <= users:
                bad.append(f"{rel}:{call.lineno} {_called_name(call)} in {fn}")
    assert not bad, "blob decoders called outside BlobBatch users:\n" + "\n".join(bad)
