"""ds_raster_pipelines_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the *semantics* of
OCHA-DAP/ds-raster-pipelines (reference at /root/reference, read-only) as
DataFrame-level operators over image+caption tables:

- ``grid``        : pure-math hierarchical H3/S2-style cell index (JVM-side
                    bit-op expressions, no UDF in the hot path)
- ``codecs``      : deterministic raw / PNG / lossy-quantized tile codecs
                    (stdlib-only; PSNR gate for lossy formats)
- ``corpus``      : deterministic synthetic image+caption corpus + admin
                    polygons (BASELINE.json input_hint shape)
- ``sources``     : tile decode kernels (Arrow-batched), catalog scans
- ``functions``   : scalar exprs (lon normalize, leadtimes, date grammar)
- ``operators``   : PIP join (filter-refine), zonal stats, kNN ring join,
                    dedup (exact/minhash/jaccard/simhash), text analysis,
                    ANN similarity, band merge, coverage anti-join,
                    climatology, validation constraints, rasterize kernels
- ``plans``       : end-to-end pipeline builders (flagship zonal query,
                    era5/floodscan-style run modes)
- ``streaming``   : incremental batch with per-partition lineage manifests
                    (checkpoint/resume) + structured-streaming event aggs

Design stance (SURVEY.md §7): DataFrame/SQL first; Catalyst untouched (zero
custom rules); every pixel touch inside Arrow-batched pandas UDFs; all
spatial joins are exact integer-key equi-joins (never float joins).
"""

__version__ = "0.1.0"

from . import _zipcache  # noqa: F401,E402  (cheap per-task zip-importer refresh)
