"""Raster sinks: COG re-encode + validated write (S12/S13).

The reference validates each processed raster and then writes it as a
``driver="COG"`` GeoTIFF (``/root/reference/src/pipelines/pipeline.py:262-293``,
write at ``:277``). The distributed analog here:

* ``reencode_cog`` — one Arrow-batched kernel that reads every tile (any
  supported fmt) through ``sources.images.TileBatch`` and re-encodes it as
  a tiled TIFF with a reduced-resolution overview IFD
  (``tiff.encode_cog``) — the bytes+fmt arrays are swapped, every other
  column passes through untouched;
* ``write_cog_corpus`` — gates the write on a validation report
  (``operators.validate.validated_write_gate`` — the distributed form of
  raising before the COG write at pipeline.py:275-277), then writes the
  re-encoded corpus as a parquet table of COG bytes.

The rescan path needs nothing new: ``codecs.decode_tile`` already reads
fmt='cog' (full-res IFD), so every downstream kernel (zonal stats,
histograms, resample) runs unchanged over the sink's output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tiff
from .sources.images import TILE_COLUMNS, BlobBatch, TileBatch

# Storage-tier / content-type rules of the reference
# (azure_utils.py:75-98: COOL + application/octet-stream default;
# pipeline.py:285-292: HOT + image/tiff for processed COG outputs).
TIER_HOT = "HOT"
TIER_COOL = "COOL"
CT_TIFF = "image/tiff"
CT_OCTET = "application/octet-stream"


def with_storage_properties(df: DataFrame, processed: bool = False) -> DataFrame:
    """S9 tier semantics as DATA: attach ``blob_tier`` / ``content_type``
    columns derived from the reference's rules. A Spark/Iceberg table has
    no per-blob tier API, so the properties ride as columns — an Azure
    uploader maps them to ``standard_blob_tier``/``ContentSettings``
    per object, an Iceberg catalog to table properties; lifecycle policies
    (tier by age) become plain UPDATE/filter expressions over them."""
    tiffish = F.col("fmt").isin("tif", "cog")
    return df.withColumns(
        {
            "blob_tier": F.when(F.lit(processed) & tiffish, TIER_HOT).otherwise(TIER_COOL),
            "content_type": F.when(tiffish, CT_TIFF).otherwise(F.lit(CT_OCTET)),
        }
    )


def reencode_cog(images: DataFrame, tile: int = 32, overviews: int = 1) -> DataFrame:
    """Decode each tile and re-encode as COG bytes (fmt='cog').

    Single mapInArrow stage; column set and order preserved. The decode→
    encode round-trip is lossless for lossless inputs and re-encodes the
    already-lossy pixels bit-exactly for lossy ones — downstream stats are
    identical to the pre-sink corpus either way (pytest-gated).
    """
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in images.schema.fields
    )

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            # the orientation flags pass through, so the reader sees only
            # the tile columns and the pixels keep their stored order
            tb = TileBatch(b.select(list(TILE_COLUMNS)))
            # per tile on purpose: the COG encoder takes one tile at a time
            blobs = [tiff.encode_cog(tb.pixels(k), tile=tile, overviews=overviews)
                     for k in range(tb.n)]
            cols = b.columns
            names = b.schema.names
            cols[names.index("bytes")] = pa.array(blobs, b.schema.field("bytes").type)
            cols[names.index("fmt")] = pa.array(["cog"] * tb.n, b.schema.field("fmt").type)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return images.mapInArrow(kernel, schema=schema)


def write_cog_corpus(
    images: DataFrame, report: DataFrame, path: str, tile: int = 32, overviews: int = 1
) -> bool:
    """Validate-then-write: returns False (and writes nothing) when the
    report carries violations; otherwise writes the COG-encoded corpus
    partitioned like the input (pcell column if present) and returns True."""
    from .operators.validate import validated_write_gate

    if not validated_write_gate(images, report):
        return False
    # processed COG output → HOT tier + image/tiff (pipeline.py:285-292)
    out = with_storage_properties(
        reencode_cog(images, tile=tile, overviews=overviews), processed=True
    )
    writer = out.write.mode("overwrite")
    if "pcell" in images.columns:
        writer = writer.partitionBy("pcell")
    writer.parquet(path)
    return True


# ---------------------------------------------------------- NetCDF sink ---

CT_NETCDF = "application/x-netcdf"


def write_cube_nc(
    cube: DataFrame,
    path: str,
    part_col: str = "doy",
    key_col: str = "cell_id",
) -> None:
    """S13 with a GENUINE NetCDF container: persist the multi-band
    climatology cube as one classic NetCDF-3 file per ``part_col`` value
    (the reference writes the whole FloodScan baseline as a single .nc,
    floodscan_pipeline.py:405-410; sharding it per day-of-year is the
    distributed form — bounded per-task output, and 366 independent blobs
    resume/overwrite per partition).

    Each shard: dim ``row``; int64 keys split into hi/lo NC_INT pairs
    (classic NetCDF has no 64-bit integer type); double bands stored as
    NC_DOUBLE (bit-exact round-trip); long counts as NC_INT (guarded).
    Output table: (part_col, nc_bytes) parquet — blob-per-partition, the
    same shape the COG corpus sink uses.
    """
    from . import netcdf as nc_mod

    band_fields = [
        f for f in cube.schema.fields if f.name not in (part_col, key_col)
    ]
    band_names = [f.name for f in band_fields]
    band_kinds = {
        f.name: ("f8" if f.dataType.simpleString() == "double" else "i4")
        for f in band_fields
    }
    out_schema = f"{part_col} int, nc_bytes binary"

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(key_col, kind="mergesort")  # deterministic blob
        part = int(pdf[part_col].iloc[0])
        keys = pdf[key_col].to_numpy(dtype=np.int64)
        n = len(pdf)
        variables = [
            nc_mod.NcVar(f"{key_col}_hi", ("row",),
                         (keys >> 32).astype(np.int32)),
            nc_mod.NcVar(f"{key_col}_lo", ("row",),
                         (keys & 0xFFFFFFFF).astype(np.uint32).view(np.int32)),
        ]
        for b in band_names:
            if band_kinds[b] == "f8":
                variables.append(nc_mod.NcVar(b, ("row",), pdf[b].to_numpy(np.float64)))
            else:
                v = pdf[b].to_numpy(np.int64)
                if (np.abs(v) > 0x7FFFFFFF).any():
                    raise ValueError(f"{b}: value exceeds NC_INT range")
                variables.append(nc_mod.NcVar(b, ("row",), v.astype(np.int32)))
        blob = nc_mod.encode_nc(
            dims={"row": n},
            variables=variables,
            global_attrs={part_col: np.int32(part), "bands": " ".join(band_names)},
        )
        return pd.DataFrame({part_col: [part], "nc_bytes": [blob]})

    # pandas frame on purpose: a grouped map hands over one whole part_col
    # group, and one group is exactly one NetCDF file
    cube.groupBy(part_col).applyInPandas(encode, schema=out_schema).write.mode(
        "overwrite"
    ).parquet(path)


def read_cube_nc(spark, path: str, key_col: str = "cell_id") -> DataFrame:
    """Re-read the per-partition NetCDF shards back into the flat cube
    table (inverse of write_cube_nc; bit-exact round-trip pytest-gated).
    One Arrow stage: each task takes its shard blobs from BlobBatch,
    parses them with the classic decoder and emits the rows."""
    import numpy as np

    from . import netcdf as nc_mod

    blobs = spark.read.parquet(path)
    part_col = [c for c in blobs.columns if c != "nc_bytes"][0]

    # schema is derived from the first shard (all shards share one layout)
    sample = blobs.limit(1).collect()[0]["nc_bytes"]
    f0 = nc_mod.decode_nc(bytes(sample))
    band_names = f0.attrs["bands"].split()
    types = {part_col: "int", key_col: "bigint"}
    for b in band_names:
        types[b] = "double" if f0.variables[b].data.dtype.kind == "f" else "bigint"
    dtypes = [{"int": np.int32, "bigint": np.int64, "double": np.float64}[t] for t in types.values()]

    def shard(blob, part) -> list[np.ndarray]:
        f = nc_mod.decode_nc(bytes(blob))
        hi = f.variables[f"{key_col}_hi"].data.astype(np.int64)
        lo = f.variables[f"{key_col}_lo"].data.view(np.uint32).astype(np.int64)
        keys = (hi << 32) | lo
        return [np.full(len(keys), part, np.int32), keys,
                *(f.variables[b].data for b in band_names)]

    def decode(batches):
        import pyarrow as pa

        for b in batches:
            shards = BlobBatch(b, "nc_bytes").map(shard, b.column(part_col).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate([np.zeros(0, dt)] + [s[j] for s in shards]).astype(dt))
                    for j, dt in enumerate(dtypes)
                ],
                names=list(types),
            )

    out_schema = ", ".join(f"{c} {t}" for c, t in types.items())
    return blobs.select(part_col, "nc_bytes").mapInArrow(decode, schema=out_schema)
