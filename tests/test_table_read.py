"""The iceberg-like table reader and its commit paths
(sources/iceberg_like.py): the manifest's schema drives the scan of every
layout and of the delete files, every commit keeps that schema equal to
the data it commits, and only the files a write created are committed."""

import json
import os

from pyspark.sql import functions as F

from gregor_spark.sources.iceberg_like import (
    MANIFEST,
    compact_table,
    delete_keys_mor,
    delete_where,
    delete_where_mor,
    merge_table,
    read_cell_partitioned,
    read_manifest,
    read_table,
    read_zordered,
    remove_orphan_files,
    write_cell_partitioned,
    write_table,
    zorder_skip_report,
    zorder_table,
)

BOUNDS = (0.0, 0.0, 16.0, 16.0)


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _inferred(spark, path):
    """The committed files' schema as parquet inference reads it."""
    m = read_manifest(path)
    cur = next(s for s in m["snapshots"] if s["snapshot_id"] == m["current_snapshot_id"])
    files = [os.path.join(path, f["path"]) for f in cur["files"]]
    return spark.read.option("basePath", path).parquet(*files).schema


def _table(spark, path, n=20):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("u"), F.col("id") % 7).alias("tag"),
    )
    write_table(df, path, bucket_by="k", n_buckets=4)


def test_read_table_runs_no_job(spark, tmp_path):
    """Building the read frame takes its schema from the manifest: no
    schema-inference job, and the schema (bucket type included) is the
    one inference gives.  A manifest without a schema still reads."""
    path = str(tmp_path / "t")
    _table(spark, path)
    before = _last_job(spark)
    df = read_table(spark, path)
    assert _last_job(spark) == before
    assert df.schema == _inferred(spark, path)
    assert dict(df.dtypes)["bucket"] == "int"
    m = read_manifest(path)
    del m["schema"]
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(m, f)
    assert read_table(spark, path).schema == df.schema
    assert read_table(spark, path).count() == 20


def test_merge_on_read_table_read_runs_no_job(spark, tmp_path):
    """Position deletes read with their fixed schema and equality deletes
    with the key column's type: building the frame runs no job.  Keys of
    another type are stored as the column's type; one the cast changes
    (3.5 on a long key) deletes nothing."""
    path = str(tmp_path / "t")
    _table(spark, path)
    delete_where_mor(spark, path, "k = 4")
    delete_where_mor(spark, path, "k = 5")
    keys = spark.createDataFrame([(7.0,), (3.5,)], "k double")
    delete_keys_mor(spark, path, keys, "k")
    delete_keys_mor(spark, path, spark.range(9, 10).selectExpr("CAST(id AS int) AS k"), "k")
    before = _last_job(spark)
    df = read_table(spark, path)
    assert _last_job(spark) == before
    assert df.schema == _inferred(spark, path)
    assert sorted(r["k"] for r in df.collect()) == sorted(set(range(20)) - {4, 5, 7, 9})


def _pts(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("pid"),
        (F.col("id") % 40 * 0.4).alias("x"),
        (F.col("id") / 125.0).alias("y"),
    )


def test_layout_readers_run_no_job(spark, tmp_path):
    """The cell-partitioned and z-ordered readers take their schema from
    the manifest: no job for a full read, a bbox read, or (z-order) a
    bbox that keeps no file; rows are those of a filtered full scan."""
    cell, z = str(tmp_path / "cell"), str(tmp_path / "z")
    pts = _pts(spark)
    write_cell_partitioned(pts, cell, res=8, parent_res=2, bounds=BOUNDS)
    zorder_table(pts, z, res=8, bounds=BOUNDS, n_files=4)
    bbox, empty = (2.0, 3.0, 5.0, 6.5), (15.9, 15.9, 16.0, 16.0)
    before = _last_job(spark)
    frames = [
        (cell, read_cell_partitioned(spark, cell), None),
        (cell, read_cell_partitioned(spark, cell, bbox), bbox),
        (z, read_zordered(spark, z), None),
        (z, read_zordered(spark, z, bbox), bbox),
        (z, read_zordered(spark, z, empty), empty),
    ]
    assert _last_job(spark) == before
    assert zorder_skip_report(z, empty)["files_read"] == 0
    for path, df, box in frames:
        full = spark.read.parquet(path)
        assert df.schema == full.schema
        if box is not None:
            full = full.where(
                (F.col("x") >= box[0]) & (F.col("x") <= box[2])
                & (F.col("y") >= box[1]) & (F.col("y") <= box[3])
            )
        want = sorted(r["pid"] for r in full.collect())
        assert sorted(r["pid"] for r in df.collect()) == want
        assert (len(want) == 0) == (box == empty)


def test_layout_writers_record_the_written_schema_in_one_pass(spark, tmp_path):
    """The cell-partitioned and z-ordered writers take the manifest schema
    from the plan they write, not from a re-read: the cell writer runs
    one job, and the recorded schema is what inference gives for the
    written files (names, types, nullability, p_cell last).  The rows
    read back are the rows written."""
    from pyspark.sql import types as T

    cell, z = str(tmp_path / "cell"), str(tmp_path / "z")
    pts = _pts(spark).withColumn("near", F.array("pid", F.col("pid") + 1))
    jobs = {}
    for path, write in (
        (cell, lambda: write_cell_partitioned(pts, cell, res=8, parent_res=2, bounds=BOUNDS)),
        (z, lambda: zorder_table(pts, z, res=8, bounds=BOUNDS, n_files=4)),
    ):
        before = _last_job(spark)
        write()
        jobs[path] = _last_job(spark) - before
        recorded = T.StructType.fromJson(read_manifest(path)["schema"])
        assert recorded == spark.read.parquet(path).schema
    # no re-read: the cell write is one job, the z-order write three
    # (range-bound sampling, the sort and the write)
    assert jobs == {cell: 1, z: 3}
    assert read_manifest(cell)["schema"]["fields"][-1]["name"] == "p_cell"
    want = sorted(pts.collect())
    for df in (read_cell_partitioned(spark, cell), read_zordered(spark, z)):
        assert sorted(df.select(*pts.columns).collect()) == want


def test_every_commit_keeps_schema_equal_to_data(spark, tmp_path):
    """Append, copy-on-write merge and delete, merge-on-read deletes and
    compaction each leave the manifest schema equal to what the
    committed files hold."""
    path = str(tmp_path / "t")
    _table(spark, path)
    more = spark.range(20, 25).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"), F.lit("a").alias("tag")
    )
    src = spark.createDataFrame([(3, 7, "m"), (99, 1, "n")], "k long, v long, tag string")
    steps = [
        lambda: write_table(more, path, bucket_by="k", n_buckets=4, mode="append"),
        lambda: merge_table(spark, path, src, "k"),
        lambda: delete_where(spark, path, "k = 4"),
        lambda: delete_where_mor(spark, path, "k = 5"),
        lambda: delete_keys_mor(spark, path, spark.range(6, 7).select(F.col("id").alias("k")), "k"),
        lambda: compact_table(spark, path),
    ]
    for step in steps:
        step()
        assert read_table(spark, path).schema == _inferred(spark, path)
    got = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
    assert got[3] == 7 and got[99] == 1
    assert not {4, 5, 6} & set(got)
    assert len(got) == 25 - 3 + 1


def test_append_commits_only_the_files_it_wrote(spark, tmp_path):
    """A stray part file left by an aborted write is not committed by a
    later append."""
    path = str(tmp_path / "t")
    write_table(spark.range(20).selectExpr("id AS k", "id AS v"), path, bucket_by="k",
                n_buckets=2)
    spark.range(3).selectExpr("id AS k", "id AS v").toPandas().to_parquet(
        os.path.join(path, "bucket=0", "part-aborted.parquet"))
    m = write_table(spark.range(20, 25).selectExpr("id AS k", "id AS v"), path,
                    bucket_by="k", n_buckets=2, mode="append")
    assert m["total_rows"] == 25
    assert read_table(spark, path).count() == 25


def test_orphan_removal_reclaims_aged_cow_staging(spark, tmp_path):
    """A copy-on-write staging dir left by a dead commit is reclaimed once
    aged; a fresh one (a commit possibly in flight) is kept."""
    path = str(tmp_path / "t")
    _table(spark, path)
    staging = os.path.join(path, "_cow_tmp", "bucket=0")
    os.makedirs(staging)
    assert remove_orphan_files(path, grace_seconds=3600)["deleted"] == []
    assert os.path.isdir(staging)
    assert "_cow_tmp/" in remove_orphan_files(path, grace_seconds=0)["deleted"]
    assert not os.path.exists(os.path.join(path, "_cow_tmp"))
    assert read_table(spark, path).count() == 20
