"""End-to-end ingest pipeline with the reference's run modes.

Mirrors the semantics of ``/root/reference/src/pipelines/pipeline.py`` +
``era5_pipeline.py`` (SURVEY §3.1), Spark-first:

  mode=full      process every date of the coverage spec
  mode=update    process only the latest period (era5_pipeline.py:110-115)
  mode=backfill  process only missing dates — anti-join of the coverage
                 spec vs committed lineage (pipeline.py:173-213, J4/I2)

Each date is one output partition, committed through
``streaming.incremental.IncrementalRun`` (data before manifest — the
crash-safety contract), after a validation gate in the style of
``validate_dataset`` (pipeline.py:275-276): the write is refused if any
invariant count is non-zero.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import corpus, grid
from ..operators.validate import validated_write_gate, validation_report
from ..sources.images import decode_stats
from ..streaming.incremental import IncrementalRun

EPOCH = dt.date(2020, 1, 1)


def _date_to_part(d: dt.date) -> int:
    return (d - EPOCH).days


class IngestPipeline:
    """Synthetic-corpus ingest keyed by date (one partition per day).

    The per-date unit of work mirrors the reference's
    get_raw_data → process_data → validate → save chain: synthesize the
    date's image batch, decode-normalize into tile stats + cell ids,
    gate on invariants, commit with lineage.
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        start: dt.date,
        end: dt.date,
        tiles_per_day: int = 500,
        res: int = 6,
    ):
        self.spark = spark
        self.run = IncrementalRun(spark, out_dir)
        self.start, self.end = start, end
        self.tiles_per_day = tiles_per_day
        self.res = res

    # -- coverage spec (pipeline.py:95-114) --------------------------------

    def expected_dates(self) -> list[dt.date]:
        n = (self.end - self.start).days + 1
        return [self.start + dt.timedelta(days=k) for k in range(n)]

    # -- unit of work -------------------------------------------------------

    def build_date(self, d: dt.date) -> DataFrame:
        base = _date_to_part(d) * self.tiles_per_day
        ids = self.spark.range(base, base + self.tiles_per_day).withColumnRenamed("id", "i")
        tiles = decode_stats(corpus.images_from_ids(ids, partitions=4))
        tiles = corpus.centroid_cols_for_images(tiles, "i")
        return tiles.withColumns(
            {
                "cell_id": grid.encode_col("lon_c", "lat_c", self.res),
                "date": F.lit(d.isoformat()).cast("date"),
                "crs": F.lit("EPSG:4326"),
            }
        )

    def process_date(self, d: dt.date) -> dict:
        df = self.build_date(d)
        report = validation_report(df, crs_col="crs", date_col=None, filename_col=None)
        if not validated_write_gate(df, report):
            raise ValueError(f"validation gate failed for {d}: {report.collect()[0].asDict()}")
        return self.run.commit_partition(_date_to_part(d), df, cell_col="cell_id")

    # -- run modes ----------------------------------------------------------

    def plan(self, mode: str) -> list[dt.date]:
        expected = self.expected_dates()
        if mode == "full":
            return expected
        if mode == "update":
            return expected[-1:]
        if mode == "backfill":
            parts = self.run.pending_partitions([_date_to_part(d) for d in expected])
            return [EPOCH + dt.timedelta(days=p) for p in parts]
        raise ValueError(f"unknown mode {mode!r}")

    def run_pipeline(self, mode: str = "full") -> dict:
        dates = self.plan(mode)
        for d in dates:
            self.process_date(d)
        metrics = self.run.metrics()
        metrics["processed_dates"] = [d.isoformat() for d in dates]
        return metrics
