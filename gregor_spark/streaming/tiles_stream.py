"""Structured Streaming tile assignment — the incremental-ingest shape of
the north-rule pipeline.

The reference has no streaming surface (SURVEY.md §1: "no streams"), but
an engine ingesting 10^12 documents does: new corpus files land
continuously and tile statistics must stay fresh.  The batch operators
compose directly — geo-span extraction is stateless higher-order column
work, Morton encode is codegen, and zone assignment takes the batch
join's decision (``spatial_hash_join``): a cover that fits rides in a
stateless scalar UDF, one that does not is a stream-static left join —
so the only genuinely streaming construct is the watermarked windowed
aggregation at the end.

    stream = read_documents_stream(spark, path, with_ts=True)
    q = (tile_counts_stream(stream, res, bounds, zones)
         .writeStream.outputMode("append")... )
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells as C
from ..model.zones import ZoneSet
from ..operators.spatial_join import spatial_hash_join, with_cell_id
from ..sources.documents import SPAN_SCHEMA

def doc_stream_schema() -> T.StructType:
    # built lazily: DDL parsing needs an active session
    return T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("spans", T._parse_datatype_string(SPAN_SCHEMA), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of corpus parquet files."""
    reader = spark.readStream.schema(doc_stream_schema())
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tile_counts_stream(
    docs: DataFrame,
    res: int,
    bounds: tuple[float, float, float, float] = C.WORLD,
    zones: ZoneSet | None = None,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-window tile (and zone) span counts.

    Late events beyond ``watermark`` are dropped; the aggregation state is
    bounded by (windows in flight × tiles) — the streaming analog of
    tile_histogram.
    """
    geo = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("geo"))
    ex = docs.select("doc_id", "ts", F.explode(geo).alias("span"))
    parts = F.split(F.col("span.text"), ",")
    pts = ex.select(
        "doc_id",
        "ts",
        F.col("span.offset").alias("offset"),
        parts.getItem(0).cast("double").alias("lon"),
        parts.getItem(1).cast("double").alias("lat"),
    )
    group_cols = [F.window("ts", window).alias("win"), F.col("cell_id")]
    if zones is None:
        keyed = with_cell_id(pts, res, bounds, x="lon", y="lat")
    else:
        keyed = spatial_hash_join(
            pts, zones, res, bounds, x="lon", y="lat", keep_unassigned=True
        )
        group_cols.append(F.col("zone_id"))
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.approx_count_distinct("doc_id").alias("n_docs"),
        )
    )
