"""Dump annotated physical plans for the flagship queries into PLANS.md —
the `.explain("formatted")` evidence the scale claims rest on (pushdown,
pruning, broadcast-only joins, codegen spans, no stray Python eval).

Usage: python scripts/dump_plans.py   (rewrites the generated sections of
the repo's PLANS.md and keeps the hand-written ones after them)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# PLANS — physical-plan evidence for the scale claims

Generated by `python scripts/dump_plans.py` (`.explain("formatted")` on
local[8]; plans are identical in shape on a cluster — only exchange
transports differ).  The properties asserted in tests/test_plans.py are
visible here directly:

"""


def main() -> None:
    from pyspark.sql import functions as F

    from gregor_spark.model import fixtures as FX
    from gregor_spark.model.raster import RasterMeta, clip_bbox, raster_df
    from gregor_spark.model.zones import ZoneSet
    from gregor_spark.operators.disaggregate import disaggregate_polygon_to_raster
    from gregor_spark.operators.spatial_join import spatial_hash_join
    from gregor_spark.session import get_spark

    spark = get_spark(app="dump-plans", master="local[8]", shuffle_partitions=8)
    import tempfile

    tmp = tempfile.mkdtemp(prefix="plans_")
    cells_path = os.path.join(tmp, "cells.parquet")
    raster_df(spark, RasterMeta(**FX.RASTER_META), FX.RASTER_VALUES).write.parquet(
        cells_path
    )
    cells = spark.read.parquet(cells_path)
    bounds = (-0.25, 9.75, 1.75, 11.75)
    zones = ZoneSet.from_fixture(FX.SEG_2X2, values={z: 2.0 for z in range(4)})

    def formatted(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    sections = []

    sections.append(
        (
            "Broadcast spatial assignment (map-only)",
            "ZERO Exchange anywhere: scan → codegen Morton encode → one "
            "Arrow-batched assignment UDF with the zone cover in its "
            "closure.  The fact table never shuffles — this is the path a "
            "100 TB corpus takes against admin-sized zone layers.",
            formatted(
                spatial_hash_join(
                    cells, ZoneSet.from_fixture(FX.SEG_2X2), 6, bounds,
                    broadcast_cover=True, keep_unassigned=True,
                )
            ),
        )
    )
    # salting applies only to a join that shuffles: plan it as for a cover
    # above the broadcast threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    salted = formatted(
        spatial_hash_join(
            cells, ZoneSet.from_fixture(FX.SEG_2X2), 6, bounds,
            broadcast_cover=False, salt_threshold=0, salt_factor=4,
            keep_unassigned=True, fact_key="row",
        )
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    sections.append(
        (
            "Partitioned spatial join with explicit hot-cell salting",
            "The shuffle path for covers that cannot broadcast (planned "
            "with spark.sql.autoBroadcastJoinThreshold=-1; a salted request "
            "whose cover fits is assigned by the closure, with no join and "
            "no salt, since the facts never shuffle): explicit histogram "
            "(partial-agg), fact-side pmod(hash, k) salt, hot cover rows "
            "(one per cell, candidate zones as arrays) exploded ×k, then "
            "ONE join that meets each fact's candidates in one row and a "
            "slim resolver UDF over (x, y, _z, _f) only — no groupBy.",
            salted,
        )
    )
    sections.append(
        (
            "Disaggregation (polygon→raster)",
            "The reference's O(polygons) accumulation loop as one plan: "
            "assignment → partial-agg normalization → two BroadcastHashJoins "
            "(norms and zone values are O(zones)) → ratio arithmetic.  No "
            "SortMergeJoin; the fact side shuffles only for the O(zones) "
            "normalization aggregate.",
            formatted(disaggregate_polygon_to_raster(zones, cells)),
        )
    )
    sections.append(
        (
            "Bbox clip — predicate pushdown",
            "PushedFilters carries the bbox to the parquet scan; ReadSchema "
            "prunes to referenced columns.",
            formatted(clip_bbox(cells, 0.0, 10.0, 1.0, 11.0).select("row", "col")),
        )
    )

    from gregor_spark.sources.iceberg_like import (
        read_cell_partitioned,
        write_cell_partitioned,
    )

    pts = spark.range(1000).select(
        F.col("id"),
        (F.rand(1) * 2 - 0.25).alias("x"),
        (F.rand(2) * 2 + 9.75).alias("y"),
    )
    part_path = os.path.join(tmp, "cellpart")
    write_cell_partitioned(pts, part_path, res=8, parent_res=2, bounds=bounds)
    sections.append(
        (
            "Tile-partitioned scan pruning",
            "A bbox read over the cell-partitioned layout: the partition "
            "IN-list appears under PartitionFilters (files outside the box "
            "are never opened) and the coordinate predicate under "
            "PushedFilters.",
            formatted(read_cell_partitioned(spark, part_path, bbox=(0.0, 10.0, 0.4, 10.4))),
        )
    )

    from gregor_spark.ops.dedup import dedup_incremental, minhash_bands

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} common tail words") for i in range(32)],
        "doc_id long, text string",
    )
    idx_path = os.path.join(tmp, "sig_index")
    from gregor_spark.sources.iceberg_like import read_table, write_table

    write_table(minhash_bands(docs), idx_path, bucket_by="band_key", n_buckets=4)
    shard = spark.createDataFrame(
        [(100 + i, f"w{i} w{i+1} w{i+2} w{i+3} common tail words") for i in range(8)],
        "doc_id long, text string",
    )
    sections.append(
        (
            "Incremental dedup — delta join vs persisted band index",
            "New-shard dedup against an existing corpus without touching "
            "corpus text: the shard's banded signature equi-joins the "
            "persisted index on (band, band_key) and itself (smaller-id "
            "rule), plus one id-only join for re-ingestion.  No iteration, "
            "no corpus rescan — per-shard cost is O(shard + matched index "
            "buckets).",
            formatted(dedup_incremental(shard, read_table(spark, idx_path))),
        )
    )

    from gregor_spark.ops.temporal import asof_join

    left = spark.range(512).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
    )
    right = spark.range(128).select(
        F.col("id").alias("rid"),
        F.timestamp_seconds(F.col("id") * 97).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
    )
    sections.append(
        (
            "As-of join — union + ONE window, no range join",
            "Both sides tag and union, then a single Window (partition by "
            "key, order by ts/side/payload — the tertiary payload sort is "
            "the deterministic dup-ts tie-break) carries the latest right "
            "payload.  Exactly one Exchange (the window's); a range-"
            "predicate join would instead show BroadcastNestedLoop and "
            "per-key cross products.",
            formatted(asof_join(left, right)),
        )
    )

    from gregor_spark.ops.similarity import _ivf_assign, _ivf_rerank_matmul

    emb = spark.range(256).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1)) for j in range(8)]).alias(
            "embedding"
        ),
    )
    assigned, q = _ivf_assign(emb, 8, 2, 16, "vec_id", "embedding")
    sections.append(
        (
            "IVF matmul re-rank with hot-list slot split",
            "The bounded-cogroup shape: a partial-agg histogram over the "
            "Voronoi assignment sizes each list, a BROADCAST slot table "
            "joins both sides (never a shuffle of the corpus by itself), "
            "oversized lists split over pmod(xxhash64) slots, and the "
            "FlatMapCoGroupsInPandas per (list, slot) runs one numpy "
            "matmul.  Per-cogroup corpus rows ≤ max_list_rows by "
            "construction; the final Window re-ranks O(q·nprobe·k) rows.",
            formatted(_ivf_rerank_matmul(assigned, q, 4, "vec_id", 64)),
        )
    )

    out = [HEADER]
    for title, blurb, plan in sections:
        out.append(f"## {title}\n\n{blurb}\n\n```\n{plan.strip()}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    # keep the hand-written sections that follow the generated ones
    with open(path) as f:
        old = f.read()
    last = old.find(f"\n## {sections[-1][0]}\n")
    tail = old.find("\n## ", last + 1) if last >= 0 else -1
    with open(path, "w") as f:
        f.write("\n".join(out) + (old[tail:] if tail >= 0 else ""))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
