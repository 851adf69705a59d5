"""Structured Streaming: file-source tile pipeline == batch result, and
the applyInPandasWithState sessionizer == the batch window sessionizer."""

from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

from gregor_spark.model import fixtures as FX
from gregor_spark.model.zones import ZoneSet
from gregor_spark.operators.spatial_join import spatial_hash_join, with_cell_id
from gregor_spark.operators.tiles import extract_geo_points
from gregor_spark.sources.documents import generate_documents
from gregor_spark.streaming.tiles_stream import read_documents_stream, tile_counts_stream
from tests.helpers import no_auto_broadcast

BOUNDS = (-0.25, 9.75, 1.75, 11.75)
RES = 5


def test_stream_matches_batch(spark, tmp_path):
    """The stream's zone assignment takes the batch join's decision: a
    cover that fits rides in the closure, and with broadcasts by size off
    it is a stream-static left join; both give the batch counts."""
    docs = generate_documents(spark, 1500, BOUNDS, seed=9).withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=F.pmod(F.xxhash64("doc_id"), F.lit(600))),
    )
    src = str(tmp_path / "stream_src")
    docs.write.parquet(src)
    zones = ZoneSet.from_fixture(FX.SEG_2X2)

    # batch reference computation over the same files
    batch_docs = spark.read.parquet(src)
    pts = extract_geo_points(batch_docs.select("doc_id", "spans"))
    ts = batch_docs.select("doc_id", "ts")
    assigned = spatial_hash_join(
        pts, zones, RES, BOUNDS, x="lon", y="lat", keep_unassigned=True,
        broadcast_cover=True,
    ).join(ts, "doc_id")
    want = {
        (r["win"]["start"], r["cell_id"], r["zone_id"]): r["n_spans"]
        for r in assigned.groupBy(
            F.window("ts", "2 minutes").alias("win"), "cell_id", "zone_id"
        )
        .agg(F.count(F.lit(1)).alias("n_spans"))
        .collect()
    }
    assert want

    runs = (("tile_counts", nullcontext(), False),
            ("tile_counts_joined", no_auto_broadcast(spark), True))
    for name, ctx, joins in runs:
        with ctx:
            stream = read_documents_stream(spark, src, max_files_per_trigger=2)
            counts = tile_counts_stream(stream, RES, BOUNDS, zones=zones, window="2 minutes")
            plan = counts._jdf.queryExecution().analyzed().toString()
            assert ("Join LeftOuter" in plan) == joins, plan
            q = (
                counts.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        got = {
            (r["win"]["start"], r["cell_id"], r["zone_id"]): r["n_spans"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == want, name


def test_stateful_sessionizer_matches_batch(spark, tmp_path):
    """applyInPandasWithState gap sessionization emits exactly the batch
    sessionizer's sessions even under OUT-OF-ORDER multi-file arrival:
    events land in 4 randomly-split files processed one per micro-batch,
    the 4-hour watermark delay admits every late event, tentative sessions
    merge/bridge in state, and a final sentinel file advances the
    watermark far enough to seal everything."""
    import datetime as dt

    from gregor_spark.streaming.sessions_stream import sessionize_stream

    rows = []
    base = dt.datetime(2024, 1, 1)
    for u in range(8):
        t = base + dt.timedelta(seconds=u * 7)
        for i in range(20):
            # gaps: every 5th event jumps > 30 min -> new session
            step = 2400 if i % 5 == 4 else 60 * (1 + (i * u) % 3)
            rows.append((u, t, float(u * 100 + i)))
            t += dt.timedelta(seconds=step)
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "events_src")
    df.repartition(4).write.parquet(src)
    # sentinel whose ts pushes the watermark (minus the 4h delay) far past
    # every real session's end + gap
    spark.createDataFrame(
        [(999, base + dt.timedelta(days=2), 0.0)],
        "user_id long, ts timestamp, value double",
    ).write.mode("append").parquet(src)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        sessionize_stream(stream, gap_seconds=1800, watermark="4 hours")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }

    # batch reference: lag + running-sum sessionizer (q_events_sessions shape)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    es = F.unix_timestamp(F.col("ts"))
    gap = F.when((es - F.lag(es).over(w)) > 1800, 1).otherwise(0)
    sess = df.withColumn(
        "session_id",
        F.sum(gap).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    want = {
        (r["user_id"], r["s0"], r["s1"]): (r["n"], round(r["sv"], 6))
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s0"),
            F.max("ts").alias("s1"),
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
        )
        .collect()
    }
    # sessions of the late sentinel user close only at stream end; drop it
    got = {k: v for k, v in got.items() if k[0] != 999}
    want = {k: v for k, v in want.items() if k[0] != 999}
    assert got == want
