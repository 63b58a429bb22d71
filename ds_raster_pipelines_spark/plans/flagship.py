"""The flagship query: decode → H3 encode → PIP join → zonal aggregate.

This is the BASELINE.json metric path (tiles/sec end-to-end) and the Spark
form of the reference's consumption notebook
(``/root/reference/examples/era5_cogs.md`` §3.3 of SURVEY.md):

    images (Iceberg-layout corpus)
      → cell prune (pip.prune_tiles)     # pcell partitions + centroid-cell IN
      → decode kernel (Arrow)            # scan + normalize; ships i + tile cols
      → centroid → cell_id (JVM bit ops) # H3/S2 encode, no UDF
      → PIP join vs admin polygons       # broadcast filter + exact refine
      → groupBy(adm_id).agg(...)         # zonal stats

Plan properties at scale: the only wide exchange is the final 32-key
aggregate (partial agg map-side); the polygon cover is broadcast once, for
the PIP join (the prune is a filter, not a join); decode is pipelined with
the scan (no materialization of pixels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import corpus
from ..operators.pip import COVER_SCHEMA, pip_join
from ..operators.zonal import zonal_stats
from ..sources.images import TileBatch, decode_stats

FLAGSHIP_RES = 6  # cell ~2.8 deg: finer cover = tighter prune + more
                  # interior-'full' cells (refine UDF sees fewer rows)


def flagship(
    images: DataFrame,
    admin: DataFrame,
    res: int = FLAGSHIP_RES,
) -> DataFrame:
    """PRUNE → DECODE → JOIN → AGG.

    The spatial prune (pip.prune_tiles: the pcell partition prune, then
    one ``IN`` filter of the centroid cell against the cover cells) runs
    BEFORE the decode kernel, on JVM-computed centroids: tiles outside
    every polygon never cross the JVM→Python boundary. This is the
    distributed form of the reference's 'do the clipping when initially
    reading' (examples/era5_cogs.md:174-176) — at 1e12 images the byte
    shipment is the dominant cost, and the prune cuts it to the covered
    fraction.

    Building the plan on the driver is a measured per-job cost, paid on
    every call. A Column builder makes one Python→JVM (py4j) round trip
    per literal and operator, plus one more when Python frees it: built
    that way, with its 427-cell prune list, this plan took ~3,050 round
    trips and 0.7 s to build (4-core VM, 20k-tile corpus). Every
    expression here is one ``F.expr`` over SQL text and each prune list
    is one ``IN (...)``. tests/test_plan_build.py pins a budget.
    """
    from ..operators.pip import PolygonSetTooLarge, cover_local_pdf, prune_tiles

    try:
        adm_rows, geoms, cover_pdf = cover_local_pdf(admin, res)
    except PolygonSetTooLarge:
        # huge polygon set: no driver collect is allowed — the whole plan
        # switches to distributed cover + join-based pruning
        return _flagship_distributed(images, admin, res)
    # The cover is broadcast once, for the PIP join; the prune reads its
    # cells on the driver, so it needs no exchange of its own.
    cover = images.sparkSession.createDataFrame(cover_pdf, schema=COVER_SCHEMA)
    pruned = prune_tiles(
        images, cover_pdf["cell_id"].to_numpy(), *corpus.centroid_sql_for_images("i"), res
    )
    tiles = corpus.centroid_cols_for_images(decode_stats(TileBatch.select(pruned, "i")), "i")
    joined = pip_join(
        tiles, admin, res=res, refine="auto", cover=cover, rings=geoms, adm_rows=adm_rows
    )
    # no global orderBy: sorting the 32-row zonal output costs a range-
    # sampling job per run; the driver compare is order-insensitive and
    # consumers sort client-side. fixed_scale=2: tile means are multiples
    # of 0.5, so the sum/avg accumulate in exact integer half-units —
    # order-independent by construction, not by luck.
    return zonal_stats(joined, "mean_value", fixed_scale=2)


def flagship_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship over the materialized corpus table (one-time synth write,
    then a pure scan → single decode kernel → join → agg: the
    BASELINE.json metric path)."""
    images = spark.read.parquet(corpus.materialized_images(spark, sf_dir))
    return flagship(images, corpus.admin_df(spark))


def _flagship_distributed(images: DataFrame, admin: DataFrame, res: int) -> DataFrame:
    """Flagship plan for polygon tables beyond MAX_LOCAL_POLYGONS: same
    PRUNE → DECODE → JOIN → AGG stages with every driver-side geometry
    structure replaced by a join against the distributed cover.

    * partition prune: semi-join of pcell against the cover cells' parents
      (a groupBy-distinct of the cover — tiny relative to the corpus)
      instead of a driver-computed isin list;
    * fine prune: semi-join on cover cell_ids (shuffle, not broadcast —
      a 10^6-polygon cover may exceed broadcast limits);
    * PIP join: pip_join_distributed (per-row WKB refine, no closure).
    The wide exchanges are on cell_id/adm_id keys; nothing scales with
    the polygon count on the driver."""
    from pyspark.sql import functions as F

    from .. import grid
    from ..operators.pip import pip_join_distributed, polygon_cover_cells

    # The cover feeds three consumers (pcell parents, fine prune, PIP
    # join). No persist: an unbounded process-global cache is the pattern
    # ADVICE r3 flagged in dedup; recomputing one Arrow pass over the
    # polygon table (tiny vs the corpus scan) is the scale-correct trade.
    # Spark's CacheManager would also only help if a caller persisted —
    # exchange reuse still kicks in where plans align.
    cover = polygon_cover_cells(admin, res)
    if "pcell" in images.columns:
        parents = cover.select(
            grid.parent_col("cell_id", corpus.PCELL_RES, res).alias("pcell")
        ).distinct()
        images = images.join(parents, "pcell", "left_semi").drop("pcell")
    pts = corpus.centroid_cols_for_images(images, "i").withColumn(
        "cell_id", grid.encode_col("lon_c", "lat_c", res)
    )
    pruned = pts.join(cover.select("cell_id").distinct(), "cell_id", "left_semi").drop(
        "cell_id", "lon_c", "lat_c"
    )
    tiles = corpus.centroid_cols_for_images(decode_stats(TileBatch.select(pruned, "i")), "i")
    joined = pip_join_distributed(tiles, admin, res=res, cover=cover)
    return zonal_stats(joined, "mean_value", fixed_scale=2)
