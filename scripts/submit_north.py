"""spark-submit entry point for the north-rule pipeline (resumable).

Cluster launch (north rule: ``spark-submit --py-files`` on a
multi-executor cluster):

    python scripts/make_pyfiles.py            # build .build/gregor_spark.zip
    spark-submit --master <cluster> \
        --py-files .build/gregor_spark.zip \
        scripts/submit_north.py \
        --corpus /path/to/iceberg_like_table \
        --out    /path/to/run_dir \
        --res 8 --salt-threshold 1000000

Stages (each checkpointed with per-partition lineage; a restarted driver
resumes after the last complete stage — plans/checkpoint.py):
  1. extract   — geo spans from the interleaved corpus
  2. assign    — Morton encode + spatial hash join (broadcast or salted)
  3. rollup    — tile histogram

In-sandbox it runs on local[N]; the same file is what a cluster submit
would use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--res", type=int, default=8)
    ap.add_argument("--bounds", default="-0.25,9.75,1.75,11.75")
    ap.add_argument("--salt-threshold", type=int, default=None)
    ap.add_argument("--salt-factor", type=int, default=16)
    ap.add_argument("--broadcast", action="store_true")
    args = ap.parse_args()

    from gregor_spark.model import fixtures as FX
    from gregor_spark.model.zones import ZoneSet
    from gregor_spark.operators.spatial_join import spatial_hash_join
    from gregor_spark.operators.tiles import extract_geo_points, tile_histogram
    from gregor_spark.plans.checkpoint import CheckpointedRun
    from gregor_spark.session import get_spark
    from gregor_spark.sources.iceberg_like import read_table

    bounds = tuple(float(v) for v in args.bounds.split(","))
    spark = get_spark(app="gregor-north")
    run = CheckpointedRun(spark, args.out)
    zones = ZoneSet.from_fixture(FX.SEG_2X2)

    pts = run.run_stage(
        "extract", lambda: extract_geo_points(read_table(spark, args.corpus))
    )
    assigned = run.run_stage(
        "assign",
        lambda: spatial_hash_join(
            pts,
            zones,
            args.res,
            bounds,
            x="lon",
            y="lat",
            keep_unassigned=True,
            broadcast_cover=True if args.broadcast else None,
            salt_threshold=args.salt_threshold,
            salt_factor=args.salt_factor,
            fact_key="doc_id",
        ),
    )
    hist = run.run_stage("rollup", lambda: tile_histogram(assigned))
    print(json.dumps({"stages": run.metrics(), "tiles": hist.count()}))


if __name__ == "__main__":
    main()
