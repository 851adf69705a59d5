"""Checkpoint/lineage resume + Iceberg-shaped layout round trip, and the
shared commit path: footer-counted lineage, atomic manifest swaps, no
re-read job after a write, and the compaction row check."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gregor_spark.plans.checkpoint import CheckpointedRun
from gregor_spark.sources import iceberg_like as IL
from gregor_spark.sources.iceberg_like import read_manifest, read_table, write_table


def test_iceberg_like_roundtrip(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / "tbl")
    man = write_table(df, path, bucket_by="k", n_buckets=8)
    assert man["total_rows"] == 1000
    assert len(man["bucket_rows"]) == 8
    back = read_table(spark, path)
    assert back.count() == 1000
    assert read_manifest(path)["partition_spec"]["bucket_by"] == "k"
    # bucket column usable for pruning
    assert back.filter(F.col("bucket") == 3).count() == man["bucket_rows"]["3"]


def test_checkpoint_resume_skips_done_stages(spark, tmp_path):
    root = str(tmp_path / "run")
    calls = {"a": 0, "b": 0}

    def build_a():
        calls["a"] += 1
        return spark.range(100).select(F.col("id").alias("x"))

    run = CheckpointedRun(spark, root)
    out_a = run.run_stage("a", build_a)
    assert out_a.count() == 100
    assert calls["a"] == 1

    def build_b():
        calls["b"] += 1
        prev = spark.read.parquet(os.path.join(root, "a", "data"))
        return prev.withColumn("y", F.col("x") * 2)

    out_b = run.run_stage("b", build_b)
    assert out_b.count() == 100
    # fresh driver (new CheckpointedRun): both stages resume from disk
    run2 = CheckpointedRun(spark, root)
    a2 = run2.run_stage("a", build_a)
    b2 = run2.run_stage("b", build_b)
    assert calls == {"a": 1, "b": 1}  # builders never re-invoked
    assert a2.count() == 100 and b2.count() == 100
    # lineage: per-partition counts sum to the row count
    m = run2.stage_manifest("a")
    assert sum(m["partition_rows"].values()) == m["rows"] == 100
    metrics = run2.metrics()
    assert set(metrics) == {"a", "b"}
    assert all("wall_sec" in v for v in metrics.values())


# ------------------------------------------------------------ commit path


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _torn_dump(obj, fp, **kw):
    """A crash mid-write: half the manifest text lands, then the writer dies."""
    text = json.dumps(obj, **kw)
    fp.write(text[: len(text) // 2])
    raise OSError("simulated crash during manifest write")


def test_torn_manifest_write_leaves_no_torn_manifest(spark, tmp_path, monkeypatch):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(0, 100, 1, 4)

    run = CheckpointedRun(spark, str(tmp_path / "run"))
    pts = spark.range(200).select(
        F.col("id"), (F.col("id") % 16).cast("double").alias("x"),
        (F.col("id") % 13).cast("double").alias("y"),
    )
    bounds = (0.0, 0.0, 16.0, 16.0)
    cell_path, z_path = str(tmp_path / "cells"), str(tmp_path / "z")
    with monkeypatch.context() as mp:
        mp.setattr(json, "dump", _torn_dump)
        with pytest.raises(OSError, match="simulated crash"):
            run.run_stage("s", build)
        with pytest.raises(OSError, match="simulated crash"):
            IL.write_cell_partitioned(pts, cell_path, res=8, parent_res=2, bounds=bounds)
        with pytest.raises(OSError, match="simulated crash"):
            IL.zorder_table(pts, z_path, res=8, bounds=bounds, n_files=2)
    # no manifest at all, rather than a readable-but-torn one
    assert run.stage_manifest("s") is None
    for p in (cell_path, z_path):
        assert not os.path.exists(os.path.join(p, IL.MANIFEST))
    # the unfinished stage is rebuilt on the next run
    out = CheckpointedRun(spark, str(tmp_path / "run")).run_stage("s", build)
    assert calls["n"] == 2 and out.count() == 100
    assert run.stage_manifest("s")["rows"] == 100
    # a clean re-run commits whole manifests
    assert IL.write_cell_partitioned(pts, cell_path, res=8, parent_res=2, bounds=bounds)[
        "total_rows"
    ] == read_manifest(cell_path)["total_rows"] == 200
    assert IL.zorder_table(pts, z_path, res=8, bounds=bounds, n_files=2)[
        "total_rows"
    ] == read_manifest(z_path)["total_rows"] == 200


def test_commits_run_no_jobs_beyond_their_write(spark, tmp_path):
    def build():
        return spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS v")

    alone = _jobs_in(spark, "ckpt-write", lambda: build().write.parquet(str(tmp_path / "w")))
    run = CheckpointedRun(spark, str(tmp_path / "run"))
    staged = _jobs_in(spark, "ckpt-stage", lambda: run.run_stage("s", build))
    assert staged == alone, (staged, alone)

    path = str(tmp_path / "t")
    write_table(spark.range(200).selectExpr("id AS k", "id AS v"), path, bucket_by="k", n_buckets=4)
    keys = spark.range(0, 50).selectExpr("id AS k")
    vals = keys.select(F.col("k")).where(F.col("k").isNotNull()).distinct()
    alone = _jobs_in(spark, "eqdel-write", lambda: vals.write.parquet(str(tmp_path / "d")))
    summary = {}
    deleted = _jobs_in(
        spark, "eqdel", lambda: summary.update(IL.delete_keys_mor(spark, path, keys, "k"))
    )
    assert deleted == alone, (deleted, alone)
    assert summary["delete_rows"] == 50
    assert read_table(spark, path).count() == 150


def test_lineage_skips_empty_partitions_and_empty_outputs(spark, tmp_path):
    run = CheckpointedRun(spark, str(tmp_path / "run"))
    gap = run.run_stage(
        "gap", lambda: spark.range(0, 100, 1, 4).filter(~F.col("id").between(50, 74))
    )
    m = run.stage_manifest("gap")
    assert m["partition_rows"] == {"0": 25, "1": 25, "3": 25} and m["rows"] == 75
    assert gap.columns == ["id"] and gap.count() == 75
    # an empty write still leaves one zero-row part-00000; it is not lineage
    empty = run.run_stage("empty", lambda: spark.range(0, 100, 1, 4).filter("id < 0"))
    m = run.stage_manifest("empty")
    assert m["partition_rows"] == {} and m["rows"] == 0
    assert empty.columns == ["id"] and empty.count() == 0


def test_compaction_row_check_fails_before_any_file_moves(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    for lo, hi, mode in ((0, 100, "overwrite"), (100, 150, "append")):
        write_table(
            spark.range(lo, hi).selectExpr("id AS k", "id AS v").repartition(4),
            path, bucket_by="k", n_buckets=4, mode=mode,
        )

    def listing():
        return sorted(
            os.path.join(d, f)
            for d in os.listdir(path) if d.startswith("bucket=")
            for f in os.listdir(os.path.join(path, d))
        )

    before, files_before = read_manifest(path), listing()
    real = IL._data_files

    def one_row_short(root):
        files = real(root)
        if os.path.basename(root) == "_compact_tmp":
            files[0] = (files[0][0], files[0][1] - 1)
        return files

    monkeypatch.setattr(IL, "_data_files", one_row_short)
    with pytest.raises(RuntimeError, match="row drift"):
        IL.compact_table(spark, path)
    assert read_manifest(path) == before
    assert listing() == files_before
    assert os.path.isdir(os.path.join(path, "_compact_tmp"))
    monkeypatch.undo()
    assert "_compact_tmp/" in IL.remove_orphan_files(path, grace_seconds=0)["deleted"]
    assert read_table(spark, path).count() == 150
    assert IL.compact_table(spark, path)["rows"] == 150
