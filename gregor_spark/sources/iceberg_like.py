"""Iceberg-shaped table layout on plain parquet.

No Iceberg runtime jars are assumed in this environment (SURVEY.md §7),
so the engine writes/reads an Iceberg-*shaped* layout behind one function
pair: hash-bucketed parquet directories plus a JSON manifest carrying the
schema, partition spec, per-bucket row counts and a snapshot id.  On a
cluster with Iceberg jars, swap these two functions for
``df.writeTo(...).using("iceberg")`` / ``spark.table`` — callers don't
change.

Bucketing by a stable key hash gives the co-location properties the
engine relies on: a later join/groupBy on the bucket key can avoid a
full shuffle, and per-bucket counts give the resume/lineage layer its
units of work (plans/checkpoint.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST = "_gregor_manifest.json"


def _parquet_paths(root: str):
    """Paths relative to ``root`` of the parquet data files under it, in
    sorted walk order.  Spark-hidden ``_``/``.`` entries (``_SUCCESS``,
    staging and delete dirs) are skipped."""
    for dirpath, dirnames, fnames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for fname in sorted(fnames):
            if fname.endswith(".parquet") and not fname.startswith(("_", ".")):
                yield os.path.relpath(os.path.join(dirpath, fname), root)


def _data_files(root: str, skip=frozenset()) -> list[tuple[str, int]]:
    """(path relative to ``root``, footer row count) for every non-empty
    parquet data file under a written dir not named in ``skip`` — the
    unit an Iceberg manifest tracks.  Footers only: zero Spark jobs and
    no data pages read (a footer is a few KB regardless of file size),
    which is what a real Iceberg writer records at commit time instead
    of re-scanning what it just wrote.  Zero-row files are skipped (an
    empty write still leaves one ``part-00000``)."""
    import pyarrow.parquet as pq

    files: list[tuple[str, int]] = []
    for rel in _parquet_paths(root):
        if rel not in skip:
            n = pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
            if n:
                files.append((rel, n))
    return files


def _scan(spark: SparkSession, path: str, m: dict, files: list[str]) -> DataFrame:
    """The data ``files`` (full paths, or the table dir itself) of table
    ``path`` as one frame, partition columns (``bucket``, ``p_cell``)
    derived from the directory names.  The manifest's ``schema`` is
    handed to the reader, so no schema-inference job runs; a manifest
    without one falls back to inference."""
    reader = spark.read.option("basePath", path)
    if m.get("schema"):
        schema = T.StructType.fromJson(m["schema"])
        reader = reader.schema(T.StructType([f for f in schema if f.name != "bucket"]))
    return reader.parquet(*files)


def _written_schema(df: DataFrame) -> dict:
    """``df``'s schema as its parquet write lands it: every field nullable."""
    return json.loads(df._jdf.schema().asNullable().json())


def _dir_rows(files) -> dict[str, int]:
    """Rows per ``<col>=<value>`` partition dir, keyed by the value."""
    counts: dict[str, int] = {}
    for rel, n in files:
        key = os.path.dirname(rel).split("=", 1)[1]
        counts[key] = counts.get(key, 0) + n
    return counts


def _swap_manifest(d: str, m: dict, name: str = MANIFEST) -> None:
    """The only manifest writer: temp file + ``os.replace``, so a reader
    sees the previous manifest or the new one, never a torn one."""
    tmp = os.path.join(d, name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1)
    os.replace(tmp, os.path.join(d, name))


def _current(path: str) -> tuple[dict, dict]:
    """(manifest, current snapshot); raises on a pre-v2 manifest."""
    m = read_manifest(path)
    if not m.get("snapshots"):
        raise ValueError("table has no snapshot history (pre-v2 manifest)")
    return m, _resolve_snapshot(m, m["current_snapshot_id"], None)


def _next_id(m: dict) -> int:
    """Monotonic snapshot id: wall ms, bumped past the last snapshot."""
    now_ms = int(time.time() * 1000)
    snaps = m.get("snapshots")
    return max(now_ms, snaps[-1]["snapshot_id"] + 1) if snaps else now_ms


def _commit(
    path: str,
    m: dict,
    files: list[dict],
    operation: str,
    snap_id: int,
    delete_files=(),
) -> dict:
    """The only snapshot builder: append a snapshot listing ``files``
    (and ``delete_files``, when any) to ``m``, point the top-level
    current fields at it, and swap the manifest atomically.  Returns the
    snapshot."""
    total = sum(f["rows"] for f in files)
    snapshot = {
        "snapshot_id": snap_id,
        "timestamp_ms": int(time.time() * 1000),
        "operation": operation,
        "files": files,
        "total_rows": total,
    }
    if delete_files:
        snapshot["delete_files"] = list(delete_files)
    m["snapshots"] = m.get("snapshots", []) + [snapshot]
    m["snapshot_id"] = snap_id  # current (legacy top-level field)
    m["current_snapshot_id"] = snap_id
    m["bucket_rows"] = _dir_rows((f["path"], f["rows"]) for f in files)
    m["total_rows"] = total
    _swap_manifest(path, m)
    return snapshot


def _stage(
    path: str, out: DataFrame, tmp: str, tag: str, snap_id: int, check=None
) -> list[dict]:
    """Stage ``out`` (bucket column included) in ``<path>/<tmp>`` —
    invisible to readers, no manifest references it — then move its
    non-empty files into the bucket dirs as ``<tag>-<snap_id>-<i>``.
    ``check(staged_rows)`` runs on the staged footers before any file
    moves, so a failed check leaves only the staging dir behind
    (``remove_orphan_files`` reclaims it).  Returns the moved files as
    manifest entries stamped with ``snap_id``."""
    import shutil

    staging = os.path.join(path, tmp)
    out.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    staged = _data_files(staging)
    if check is not None:
        check(sum(n for _rel, n in staged))
    moved: list[dict] = []
    per_dir: dict[str, int] = {}
    for rel, n in staged:
        dirname = os.path.dirname(rel)
        i = per_dir[dirname] = per_dir.get(dirname, -1) + 1
        dest = os.path.join(dirname, f"{tag}-{snap_id}-{i:05d}.parquet")
        os.makedirs(os.path.join(path, dirname), exist_ok=True)
        os.replace(os.path.join(staging, rel), os.path.join(path, dest))
        moved.append({"path": dest, "rows": n, "seq": snap_id})
    shutil.rmtree(staging)
    return moved


def write_table(
    df: DataFrame,
    path: str,
    bucket_by: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` hash-bucketed by ``bucket_by`` and COMMIT a snapshot.

    Iceberg-style history: every commit appends a snapshot entry —
    (monotonic id, wall timestamp, operation, the FULL data-file list
    with footer row counts) — to the manifest, and the manifest swap is
    atomic (temp file + ``os.replace``), so a reader never observes a
    half-commit and ``read_table(..., snapshot_id=...)`` /
    ``as_of_ms=...`` time-travels by reading exactly the committed file
    list.  ``mode='append'`` keeps prior snapshots readable (their files
    are still on disk); ``mode='overwrite'`` deletes the old files, so
    it also truncates history — the same contract as an Iceberg
    overwrite followed by ``expire_snapshots``."""
    out = df.withColumn("bucket", F.pmod(F.hash(F.col(bucket_by)), F.lit(n_buckets)))
    prior = []
    before = set()
    if mode == "append":
        if os.path.exists(os.path.join(path, MANIFEST)):
            prior = read_manifest(path).get("snapshots", [])
        before = set(_parquet_paths(path))
    # Iceberg write.distribution-mode=hash (r8, guide §6): cluster rows
    # by bucket before the partitioned write so each bucket lands in ONE
    # file per commit instead of one per upstream task.  A 64-partition
    # × 64-bucket write used to cut 4096 files, and every read_table
    # paid a 4096-path distributed listing job (profiled 8–39 s per
    # north-pipeline call at 2M docs).  File size now equals bucket
    # size — the caller's n_buckets is the file-sizing knob, exactly as
    # in Iceberg.
    out = out.repartition(n_buckets, F.col("bucket"))
    out.write.mode(mode).partitionBy("bucket").parquet(path)
    manifest = {
        "format": "gregor-iceberg-like/2",
        "schema": df.schema.jsonValue(),
        "partition_spec": {"bucket_by": bucket_by, "n_buckets": n_buckets},
        "snapshots": prior,
    }
    snap_id = _next_id(manifest)
    # an appending commit = the current snapshot's files plus the files
    # this write created — NOT a blind directory walk, which would
    # resurrect files kept on disk only for older snapshots' time
    # travel (e.g. pre-compaction small files awaiting expiry) and
    # commit an aborted write's leftover part files.
    # Inherited entries keep their data sequence number ("seq" —
    # missing on pre-r7 entries means 0); new files stamp this
    # commit's, so merge-on-read equality deletes scope correctly.
    files = [dict(f) for f in prior[-1]["files"]] if prior else []
    files += [{"path": p, "rows": n, "seq": snap_id} for p, n in _data_files(path, before)]
    # merge-on-read deletes keep applying to the files they were
    # committed against; an append inherits them untouched
    dels = prior[-1].get("delete_files", ()) if prior else ()
    _commit(path, manifest, files, mode, snap_id, dels)
    return manifest


def _resolve_snapshot(m: dict, snapshot_id: int | None, as_of_ms: int | None) -> dict:
    snaps = m.get("snapshots", [])
    if not snaps:
        raise ValueError("table has no snapshot history (pre-v2 manifest)")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")
    eligible = [s for s in snaps if s["timestamp_ms"] <= as_of_ms]
    if not eligible:
        raise ValueError(f"no snapshot at or before {as_of_ms}")
    return eligible[-1]


def read_table(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Read a table written by ``write_table`` — current state by
    default; ``snapshot_id`` / ``as_of_ms`` time-travel to a committed
    snapshot by reading exactly its file list (``basePath`` keeps the
    bucket partition column derivable, so pruning still works).

    The current-state read also goes through the manifest's committed
    file list when snapshot history exists (Iceberg's reader contract):
    files kept on disk only for OLDER snapshots — pre-compaction small
    files awaiting ``expire_snapshots`` — are invisible, so maintenance
    actions never double-count rows.  Directory read is the fallback for
    pre-v2 manifests only."""
    m = read_manifest(path) if os.path.exists(os.path.join(path, MANIFEST)) else {}
    if snapshot_id is None and as_of_ms is None:
        if not m.get("snapshots"):
            return spark.read.parquet(path)
        snapshot_id = m["current_snapshot_id"]
    snap = _resolve_snapshot(m, snapshot_id, as_of_ms)
    files = [os.path.join(path, f["path"]) for f in snap["files"]]
    if not files:
        raise ValueError(f"snapshot {snap['snapshot_id']} lists no files")
    df = _scan(spark, path, m, files)
    if snap.get("delete_files"):
        df = _apply_mor_deletes(spark, path, snap, df)
    return df


#: per-row relative data-file path, derived from the parquet scan's
#: hidden _metadata column (bucket layout is always bucket=N/<file>)
_REL_FILE = r"bucket=\d+/[^/]+$"

#: the fixed schema of a position delete file
_POS_DELETE = "file_path string, pos long"


def _apply_mor_deletes(spark, path: str, snap: dict, df: DataFrame) -> DataFrame:
    """Merge-on-read: anti-join the snapshot's delete files onto the
    data scan (the Iceberg v2 reader contract).

    * POSITION deletes carry (file_path, pos) rows and are naturally
      scoped — they name exact (file, row-index) coordinates, matched
      against the scan's ``_metadata.file_path`` / ``row_index``.
    * EQUALITY deletes carry key values and apply only to data files
      with a data sequence number BELOW the delete's (``applies_seq``):
      rows appended after the delete keep the key.  NULL keys never
      match (SQL join semantics), i.e. a NULL-keyed row is undeletable
      by equality — same as Iceberg.

    Delete files are read with known schemas (the fixed position
    schema; the key's type from the table schema), so no inference job
    runs.
    Shape: one map-side projection of the hidden metadata, one anti-join
    per delete kind.  Delete frames are typically tiny next to the data
    and broadcast; the equality path's non-equi seq guard rides on the
    key equi-join."""
    dels = snap["delete_files"]
    pos = [d for d in dels if d["kind"] == "position"]
    eq = [d for d in dels if d["kind"] == "equality"]
    data = df.withColumn(
        "_file", F.regexp_extract(F.col("_metadata.file_path"), _REL_FILE, 0)
    ).withColumn("_pos", F.col("_metadata.row_index"))
    if pos:
        pdel = spark.read.schema(_POS_DELETE).parquet(
            *[os.path.join(path, d["path"]) for d in pos]
        ).select(F.col("file_path").alias("_df"), F.col("pos").alias("_dp"))
        data = data.join(
            F.broadcast(pdel),
            (data["_file"] == pdel["_df"]) & (data["_pos"] == pdel["_dp"]),
            "left_anti",
        )
    if eq:
        seqmap = spark.createDataFrame(
            [(f["path"], int(f.get("seq", 0))) for f in snap["files"]],
            "_file string, _seq long",
        )
        data = data.join(F.broadcast(seqmap), "_file", "left")
        by_col: dict[str, list[dict]] = {}
        for d in eq:
            by_col.setdefault(d["col"], []).append(d)
        for col, group in by_col.items():
            key = T.StructType([df.schema[col]])
            frames = [
                spark.read.schema(key).parquet(os.path.join(path, d["path"]))
                .select(F.col(col).alias("_dk"))
                .withColumn("_dseq", F.lit(int(d["applies_seq"])))
                for d in group
            ]
            edel = frames[0]
            for fr in frames[1:]:
                edel = edel.unionByName(fr)
            data = data.join(
                F.broadcast(edel),
                (data[col] == edel["_dk"]) & (data["_seq"] < edel["_dseq"]),
                "left_anti",
            )
        data = data.drop("_seq")
    return data.drop("_file", "_pos")


def read_table_changes(
    spark: SparkSession, path: str, from_snapshot: int, to_snapshot: int | None = None
) -> DataFrame:
    """Incremental (changelog) scan: rows in files ADDED after
    ``from_snapshot`` up to ``to_snapshot`` (default: current) — the
    Iceberg incremental-read shape that lets a downstream consumer
    process only the delta of each append instead of rescanning the
    table.  Append-only tables: a file never leaves the list, so the
    set difference IS the delta."""
    m = read_manifest(path)
    base = _resolve_snapshot(m, from_snapshot, None)
    head = _resolve_snapshot(
        m, to_snapshot if to_snapshot is not None else m["current_snapshot_id"], None
    )
    seen = {f["path"] for f in base["files"]}
    new_files = [
        os.path.join(path, f["path"]) for f in head["files"] if f["path"] not in seen
    ]
    if not new_files:
        return spark.read.parquet(path).limit(0)
    return _scan(spark, path, m, new_files)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def compact_table(spark: SparkSession, path: str) -> dict:
    """Rewrite the CURRENT snapshot's data into one-file-per-task-bucket
    and commit the result as a new ``compact`` snapshot — the Iceberg
    ``rewrite_data_files`` maintenance action, and the antidote to the
    small-file problem a continuously-appending 100 TB table develops
    (every append snapshot adds task-count files per bucket; scan cost
    grows with file COUNT long before it grows with bytes).

    The old small files stay on disk so existing snapshots still
    time-travel file-for-file; ``expire_snapshots`` afterwards reclaims
    them once no retained snapshot references them.  Commit protocol:
    write to a ``_compact_tmp`` staging dir (invisible to readers — the
    manifest never references it), move files into the bucket dirs under
    snapshot-unique names, then atomically swap the manifest.  A crash
    before the swap leaves only unreferenced stray files (re-run to
    clean), never a half-visible compaction.  Row-count parity between
    the old and new file sets is checked on the staged footers before any
    file moves; a mismatch raises ``RuntimeError`` and leaves only the
    ``_compact_tmp`` staging dir (``remove_orphan_files`` reclaims it)."""
    m, cur = _current(path)
    n_buckets = m["partition_spec"]["n_buckets"]
    src = [os.path.join(path, f["path"]) for f in cur["files"]]
    src_df = _scan(spark, path, m, src)
    has_dels = bool(cur.get("delete_files"))
    if has_dels:
        # compaction FOLDS merge-on-read deletes: the rewrite reads
        # through the anti-joins, so the compacted snapshot carries no
        # delete files and readers pay nothing again
        src_df = _apply_mor_deletes(spark, path, cur, src_df)

    def parity(staged: int) -> None:
        if has_dels:
            # with folded deletes the exact survivor count is only known
            # post-write; it can only shrink
            if staged > cur["total_rows"]:
                raise RuntimeError(
                    f"compaction grew rows: {staged} > {cur['total_rows']}"
                )
        elif staged != cur["total_rows"]:
            raise RuntimeError(
                f"compaction row drift: {staged} != {cur['total_rows']}"
            )

    snap_id = _next_id(m)
    new_files = _stage(
        path,
        src_df.repartition(n_buckets, "bucket"),
        "_compact_tmp",
        "compact",
        snap_id,
        check=parity,
    )
    snapshot = _commit(path, m, new_files, "compact", snap_id)
    return {
        "snapshot_id": snap_id,
        "files_before": len(cur["files"]),
        "files_after": len(new_files),
        "rows": snapshot["total_rows"],
    }


def expire_snapshots(
    path: str,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
) -> dict:
    """Drop old snapshots and delete their now-unreferenced data files —
    the Iceberg ``expire_snapshots`` maintenance action for this layout.

    Retention: keep the newest ``keep_last`` snapshots, and/or every
    snapshot with ``timestamp_ms >= older_than_ms`` (give at least one
    criterion; both = union of what each retains).  The CURRENT snapshot
    is always retained regardless of the criteria.  A data file is
    deleted only when NO retained snapshot references it, so retained
    time travel keeps working file-for-file; time travel to an expired
    snapshot raises (its manifest entry is gone).  The manifest swap is
    the same atomic temp-file + ``os.replace`` commit as ``write_table``,
    and files are unlinked only AFTER the swap — a crash between the two
    leaves orphan files (harmless; re-run to reclaim), never a manifest
    pointing at deleted data."""
    if keep_last is None and older_than_ms is None:
        raise ValueError("give keep_last and/or older_than_ms")
    m, _cur = _current(path)
    snaps = m["snapshots"]
    retained = []
    for i, s in enumerate(snaps):
        keep = s["snapshot_id"] == m["current_snapshot_id"]
        if keep_last is not None and i >= len(snaps) - keep_last:
            keep = True
        if older_than_ms is not None and s["timestamp_ms"] >= older_than_ms:
            keep = True
        if keep:
            retained.append(s)
    live = {f["path"] for s in retained for f in s["files"]} | {
        d["path"] for s in retained for d in s.get("delete_files", [])
    }
    dead = sorted(
        (
            {f["path"] for s in snaps for f in s["files"]}
            | {d["path"] for s in snaps for d in s.get("delete_files", [])}
        )
        - live
    )
    m["snapshots"] = retained
    _swap_manifest(path, m)
    import shutil

    for rel in dead:
        full = os.path.join(path, rel)
        if os.path.isdir(full):  # MoR delete files are parquet dirs
            shutil.rmtree(full)
        elif os.path.exists(full):
            os.remove(full)
    return {
        "retained": [s["snapshot_id"] for s in retained],
        "expired": [
            s["snapshot_id"] for s in snaps if s not in retained
        ],
        "deleted_files": dead,
    }


def remove_orphan_files(path: str, grace_seconds: float = 3600.0) -> dict:
    """Delete data files referenced by NO snapshot — the Iceberg
    ``remove_orphan_files`` action, completing the maintenance trio with
    ``compact_table`` and ``expire_snapshots``.  Orphans come from
    crashes between a data write and its manifest swap (an aborted
    compaction's moved files, a failed append's part files) and from
    leftover ``_compact_tmp``/``_cow_tmp`` staging dirs.

    ``grace_seconds`` skips files younger than the threshold — a
    concurrent writer's files are unreferenced until its commit, so
    deleting fresh files would race an in-flight commit (same rationale
    as Iceberg's ``older_than`` default).  Pass 0 only when no writer
    can be active."""
    import shutil

    m, _cur = _current(path)
    live = {f["path"] for s in m["snapshots"] for f in s["files"]} | {
        d["path"] for s in m["snapshots"] for d in s.get("delete_files", [])
    }
    cutoff = time.time() - grace_seconds
    deleted: list[str] = []
    for dirname in sorted(os.listdir(path)):
        pdir = os.path.join(path, dirname)
        if dirname in ("_compact_tmp", "_cow_tmp") and os.path.isdir(pdir):
            if os.path.getmtime(pdir) <= cutoff:
                shutil.rmtree(pdir)
                deleted.append(dirname + "/")
            continue
        if dirname == "_deletes" and os.path.isdir(pdir):
            for sub in sorted(os.listdir(pdir)):
                rel = os.path.join(dirname, sub)
                full = os.path.join(pdir, sub)
                if rel not in live and os.path.getmtime(full) <= cutoff:
                    shutil.rmtree(full)
                    deleted.append(rel + "/")
            continue
        if not dirname.startswith("bucket=") or not os.path.isdir(pdir):
            continue
        for fname in sorted(os.listdir(pdir)):
            rel = os.path.join(dirname, fname)
            full = os.path.join(pdir, fname)
            if (
                fname.endswith(".parquet")
                and rel not in live
                and os.path.getmtime(full) <= cutoff
            ):
                os.remove(full)
                deleted.append(rel)
    return {"deleted": deleted, "live_files": len(live)}


# ------------------------------------------------- tile-partitioned layout


def write_cell_partitioned(
    df: DataFrame,
    path: str,
    res: int,
    parent_res: int,
    bounds: tuple[float, float, float, float],
    x: str = "x",
    y: str = "y",
    mode: str = "overwrite",
) -> dict:
    """Write a fact table partitioned by its COARSE Morton tile
    (``p_cell`` at ``parent_res``) — the Iceberg
    ``partitioned by truncate(cell)`` analog.  Z-order locality means a
    bbox query touches a contiguous handful of partitions, and
    ``read_cell_partitioned`` turns a bbox into a partition IN-list so the
    scan NEVER OPENS files outside the box (SURVEY §4: scan-level pruning
    for tile-partitioned cells)."""
    from ..operators.spatial_join import with_cell_id
    from ..operators.tiles import with_parent_cell

    keyed = with_parent_cell(
        with_cell_id(df, res, bounds, x=x, y=y), res, parent_res, out="p_cell"
    )
    keyed.write.mode(mode).partitionBy("p_cell").parquet(path)
    cell_rows = _dir_rows(_data_files(path))
    manifest = {
        "format": "gregor-iceberg-like/1",
        "snapshot_id": int(time.time() * 1000),
        # the WRITTEN schema (source columns + cell_id + p_cell, last as
        # partition inference places it)
        "schema": _written_schema(keyed),
        "partition_spec": {
            "kind": "cell",
            "res": res,
            "parent_res": parent_res,
            "bounds": list(bounds),
            "x": x,
            "y": y,
        },
        # counted from the written files' parquet footers (zero jobs),
        # never a second pass over the source lineage or the written data
        "cell_rows": cell_rows,
        "total_rows": sum(cell_rows.values()),
    }
    _swap_manifest(path, manifest)
    return manifest


def _rect_cells(bbox, res: int, bounds) -> list[int]:
    """All cells at ``res`` whose tile intersects the rect (driver-side,
    O(tiles-in-rect); callers choose parent_res so this stays small)."""
    import numpy as np

    from ..geo import cells as C

    ix0, iy0, ix1, iy1 = _tile_rect(bbox, res, bounds)
    out = []
    for iy in range(iy0, iy1 + 1):
        for ix in range(ix0, ix1 + 1):
            out.append(
                int(
                    (np.int64(res) << np.int64(56))
                    | C.morton_encode(np.array([ix]), np.array([iy]))[0]
                )
            )
    return out


def read_cell_partitioned(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Read a cell-partitioned table; with ``bbox`` the partition IN-list
    plus the exact coordinate predicate are applied — the IN-list reaches
    the scan as a PartitionFilter (asserted in tests/test_plans.py)."""
    m = read_manifest(path)
    spec = m["partition_spec"]
    df = _scan(spark, path, m, [path])
    if bbox is None:
        return df
    minx, miny, maxx, maxy = bbox
    cells = _rect_cells(bbox, spec["parent_res"], tuple(spec["bounds"]))
    xc, yc = spec["x"], spec["y"]
    return df.filter(
        F.col("p_cell").isin(cells)
        & (F.col(xc) >= minx) & (F.col(xc) <= maxx)
        & (F.col(yc) >= miny) & (F.col(yc) <= maxy)
    )


def zorder_table(
    df: DataFrame,
    path: str,
    res: int,
    bounds: tuple[float, float, float, float],
    x: str = "x",
    y: str = "y",
    n_files: int = 16,
    mode: str = "overwrite",
    curve: str = "morton",
) -> dict:
    """Space-filling-curve file clustering — the Delta ``OPTIMIZE ...
    ZORDER BY`` analog for spatial keys: range-repartition + sort the
    table by its curve rank so each data file covers a TIGHT contiguous
    rank interval, then record every file's footer statistics into the
    manifest for read-time file skipping.

    ``curve="morton"`` (default): sort key is the Morton ``cell_id``
    and skipping decomposes a bbox into exact z-intervals (BigMin
    splitting, :func:`_bbox_z_intervals`).  ``curve="hilbert"`` (r7):
    sort key is the Hilbert rank (geo/hilbert.py) — no cheap interval
    decomposition exists, so the manifest instead records each file's
    TILE RECTANGLE ``[min_ix, max_ix] × [min_iy, max_iy]`` and skipping
    is a rect-overlap test; Hilbert's tighter locality (~40% fewer rank
    runs per box, tests/test_hilbert.py) makes those per-file
    rectangles smaller, which is where the extra skipping comes from.

    Scale shape: one range Exchange (sampled bounds) + a within-
    partition sort; stats collection reads footers, never data pages.
    ``n_files`` sizes the layout — at cluster scale pick
    ``total_bytes / 128 MiB``.

    Schema note (r7+): the written data files carry the derived columns
    ``cell_id``, ``_ix`` and ``_iy`` in addition to the input schema —
    the tile coordinates are the Hilbert skip index and keep the two
    curves' per-file rectangles comparable, so ``read_zordered`` and
    plain parquet readers will see them; drop them after read if the
    original schema is required.  Pre-r7 Morton tables lack ``_ix`` /
    ``_iy``."""
    from ..operators.spatial_join import cell_tile_cols, with_cell_id

    if curve not in ("morton", "hilbert"):
        raise ValueError(f"curve={curve!r} (morton or hilbert)")
    keyed = with_cell_id(df, res, bounds, x=x, y=y, out="cell_id")
    tx, ty = cell_tile_cols(F.col("cell_id"))
    # tile coords land in the files for BOTH curves: they are the
    # hilbert skip index, and for morton they make the layouts'
    # per-file rectangles comparable (tests/test_zorder.py)
    keyed = keyed.withColumn("_ix", tx).withColumn("_iy", ty)
    stat_cols = ["cell_id", "_ix", "_iy"]
    if curve == "hilbert":
        from ..geo.hilbert import hilbert_col

        keyed = keyed.withColumn(
            "_hrank", hilbert_col(F.col("_ix"), F.col("_iy"), res)
        )
        sort_key = "_hrank"
    else:
        sort_key = "cell_id"
    clustered = keyed.repartitionByRange(n_files, sort_key).sortWithinPartitions(
        sort_key
    )
    if curve == "hilbert":
        # the rank did its job (ordering); only the tile coords need to
        # land in the files for footer-stat skipping.  A projection is
        # order-preserving, so the sort survives the drop.
        clustered = clustered.drop("_hrank")
    clustered.write.mode(mode).parquet(path)
    import pyarrow.parquet as pq

    files = []
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        rows = sum(md.row_group(rg).num_rows for rg in range(md.num_row_groups))
        entry = {"file": fname, "rows": rows}
        for col in stat_cols:
            idx = name_to_idx[col]
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            tag = "cell" if col == "cell_id" else col.lstrip("_")
            entry[f"min_{tag}"] = lo
            entry[f"max_{tag}"] = hi
        files.append(entry)
    manifest = {
        "format": "gregor-iceberg-like/1",
        "snapshot_id": int(time.time() * 1000),
        "schema": _written_schema(clustered),
        "layout": {
            "kind": "zorder",
            "curve": curve,
            "res": res,
            "bounds": list(bounds),
            "x": x,
            "y": y,
        },
        "files": files,
        "total_rows": sum(f["rows"] for f in files),
    }
    _swap_manifest(path, manifest)
    return manifest


def _tile_rect(
    bbox: tuple[float, float, float, float],
    res: int,
    bounds: tuple[float, float, float, float],
) -> tuple[int, int, int, int]:
    """Query bbox → inclusive tile rectangle (ix0, iy0, ix1, iy1)."""
    import numpy as np

    from ..geo import cells as C

    minx, miny, maxx, maxy = bbox
    ix0, iy0 = (
        int(v[0]) for v in C.xy_to_tile(np.array([minx]), np.array([miny]), res, bounds)
    )
    ix1, iy1 = (
        int(v[0]) for v in C.xy_to_tile(np.array([maxx]), np.array([maxy]), res, bounds)
    )
    return ix0, iy0, ix1, iy1


def _file_survives(f: dict, lay: dict, ivs, rect) -> bool:
    """Shared skip predicate: z-interval overlap (morton) or per-file
    tile-rectangle overlap (hilbert)."""
    if lay.get("curve", "morton") == "hilbert":
        if f.get("min_ix") is None:
            return True
        ix0, iy0, ix1, iy1 = rect
        return (
            f["min_ix"] <= ix1 and f["max_ix"] >= ix0
            and f["min_iy"] <= iy1 and f["max_iy"] >= iy0
        )
    if f["min_cell"] is None:
        return True
    return any(f["min_cell"] <= hi and f["max_cell"] >= lo for lo, hi in ivs)


def _bbox_z_intervals(
    bbox: tuple[float, float, float, float],
    res: int,
    bounds: tuple[float, float, float, float],
    max_tiles: int = 64,
) -> list[tuple[int, int]]:
    """Decompose a bbox into ≤ ``max_tiles`` contiguous ``cell_id``
    intervals — BigMin-equivalent z-range splitting (Tropf & Herzog
    1981) via quadtree refinement: walk Morton quadrants level by
    level, emitting a node's whole contiguous z-interval
    ``[(mp << 2d), ((mp+1) << 2d) − 1]`` the moment its tile block is
    FULLY inside the query's cell rect (those intervals are exact —
    the curve never leaves the rect within them), and refining the
    boundary nodes.  Refinement stops when the frontier would exceed
    the work budget; the surviving partial nodes emit whole (a safe
    over-approximation the exact coordinate predicate filters).
    Adjacent intervals merge; if the merged cover still exceeds
    ``max_tiles``, the SMALLEST z-gaps coalesce first — so an
    elongated strip costs only its own area plus the thinnest seams,
    never a full coarse-resolution blow-up of the short axis (the
    pre-r6 behavior this replaces).  The cover is always a superset of
    the rect's cells — asserted cell-by-cell in tests/test_zorder.py."""
    import numpy as np

    from ..geo import cells as C

    ix0, iy0, ix1, iy1 = _tile_rect(bbox, res, bounds)
    res_tag = res << 56

    def _emit(px: int, py: int, level: int) -> tuple[int, int]:
        d = res - level
        mp = int(C.morton_encode(np.array([px]), np.array([py]))[0])
        return (res_tag | (mp << (2 * d)), res_tag | (((mp + 1) << (2 * d)) - 1))

    out: list[tuple[int, int]] = []
    frontier = [(0, 0)]  # partial nodes at the current level
    work_cap = max(4 * max_tiles, 256)
    for level in range(res + 1):
        nxt: list[tuple[int, int]] = []
        d = res - level
        for px, py in frontier:
            bx0, by0 = px << d, py << d
            bx1, by1 = bx0 + (1 << d) - 1, by0 + (1 << d) - 1
            if bx1 < ix0 or bx0 > ix1 or by1 < iy0 or by0 > iy1:
                continue
            if ix0 <= bx0 and bx1 <= ix1 and iy0 <= by0 and by1 <= iy1:
                out.append(_emit(px, py, level))
            else:
                nxt.append((px, py))
        if not nxt:
            frontier = []
            break
        if level == res or len(out) + 4 * len(nxt) > work_cap:
            out.extend(_emit(px, py, level) for px, py in nxt)
            frontier = []
            break
        frontier = [
            ((px << 1) | cx, (py << 1) | cy)
            for px, py in nxt
            for cy in (0, 1)
            for cx in (0, 1)
        ]
    out.sort()
    merged = [list(out[0])]
    for lo, hi in out[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_tiles:  # coalesce across the smallest z-gaps
        i = min(
            range(len(merged) - 1),
            key=lambda j: merged[j + 1][0] - merged[j][1],
        )
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]


def read_zordered(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Read a z-ordered table; with ``bbox``, manifest file stats prune
    the file list BEFORE Spark plans the scan (only intersecting files
    are passed to the reader), and the exact coordinate predicate
    handles the rest.  Returns the same rows as a full scan + filter —
    asserted in tests — while opening a fraction of the files."""
    m = read_manifest(path)
    if bbox is None:
        return _scan(spark, path, m, [path])
    lay = m["layout"]
    hil = lay.get("curve", "morton") == "hilbert"
    ivs = None if hil else _bbox_z_intervals(bbox, lay["res"], tuple(lay["bounds"]))
    rect = _tile_rect(bbox, lay["res"], tuple(lay["bounds"])) if hil else None
    # NOTE: a stats-less file is KEPT (conservative) — pre-r7 it was
    # silently dropped, which would lose its rows from the result
    keep = [
        os.path.join(path, f["file"])
        for f in m["files"]
        if _file_survives(f, lay, ivs, rect)
    ]
    minx, miny, maxx, maxy = bbox
    xc, yc = lay["x"], lay["y"]
    base = _scan(spark, path, m, keep or [path])
    if not keep:
        base = base.limit(0)
    return base.filter(
        (F.col(xc) >= minx) & (F.col(xc) <= maxx)
        & (F.col(yc) >= miny) & (F.col(yc) <= maxy)
    )


def zorder_skip_report(
    path: str, bbox: tuple[float, float, float, float], method: str = "auto"
) -> dict:
    """Pruning evidence for a bbox: how many files/rows the manifest
    skips without opening anything — the number a lakehouse OPTIMIZE
    report shows.  ``method="rect"`` forces the per-file tile-rectangle
    predicate for BOTH curves — the apples-to-apples layout-locality
    comparison (morton's production path keeps the stronger exact
    z-interval decomposition, which out-prunes any rectangle test)."""
    m = read_manifest(path)
    lay = m["layout"]
    if method == "rect":
        lay = {**lay, "curve": "hilbert"}
    hil = lay.get("curve", "morton") == "hilbert"
    ivs = None if hil else _bbox_z_intervals(bbox, lay["res"], tuple(lay["bounds"]))
    rect = _tile_rect(bbox, lay["res"], tuple(lay["bounds"])) if hil else None
    tot_f, tot_r, keep_f, keep_r = 0, 0, 0, 0
    for f in m["files"]:
        tot_f += 1
        tot_r += f["rows"]
        if _file_survives(f, lay, ivs, rect):
            keep_f += 1
            keep_r += f["rows"]
    return {
        "files_total": tot_f,
        "files_read": keep_f,
        "rows_total": tot_r,
        "rows_in_read_files": keep_r,
        "intervals": 1 if hil else len(ivs),
    }


def _uri_to_rel(uri: str, path: str) -> str:
    """input_file_name() URI → manifest-relative path."""
    p = uri
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return os.path.relpath(p, os.path.abspath(path))


def _cow_commit(
    path: str,
    m: dict,
    cur: dict,
    replaced: set[str],
    out: DataFrame,
    operation: str,
) -> dict:
    """Copy-on-write commit shared by merge/delete: stage ``out`` and
    atomically swap in a snapshot whose file list is (current −
    ``replaced``) + the staged files.  Replaced files stay on disk so
    older snapshots still time-travel file-for-file (expire_snapshots
    reclaims them) — the Iceberg COW contract."""
    snap_id = _next_id(m)
    new_files = _stage(path, out, "_cow_tmp", operation, snap_id)
    files = [f for f in cur["files"] if f["path"] not in replaced] + new_files
    snapshot = _commit(path, m, files, operation, snap_id)
    return {
        "snapshot_id": snap_id,
        "operation": operation,
        "files_rewritten": len(replaced),
        "files_added": len(new_files),
        "total_rows": snapshot["total_rows"],
    }


def merge_table(
    spark: SparkSession, path: str, source: DataFrame, key: str
) -> dict:
    """MERGE INTO (upsert), copy-on-write at FILE granularity: matched
    keys take the source row (whole-row update), unmatched source keys
    insert.  Only data files actually CONTAINING a matched key are
    rewritten — planned with an input_file_name() semi-join, the
    manifest-level pruning an Iceberg COW merge does — so an upsert
    touching one hot bucket rewrites that bucket's files and nothing
    else.  Source keys must be unique (asserted; a MERGE with duplicate
    source keys is ambiguous per ANSI).

    Scale shape: the semi-join that plans the rewrite set and the
    anti-join that drops superseded rows both hash on the key — the
    same partial-agg shuffle class as every dedup op; unaffected files
    never enter any Spark plan."""
    m, cur = _current(path)
    if cur.get("delete_files"):
        raise ValueError(
            "table has merge-on-read delete files; run compact_table "
            "before a copy-on-write MERGE (a file-granular rewrite would "
            "resurrect MoR-deleted rows)"
        )
    spec = m["partition_spec"]
    # pin the source before planning: it is referenced several times
    # (dup check, semi-joins, the rewrite, the summary counts) — a
    # non-deterministic source re-evaluated per reference would make the
    # written rows and the summary disagree
    source = source.localCheckpoint()
    n_src = source.count()
    dup = source.groupBy(key).count().where(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError("MERGE source has duplicate keys")
    src = source.withColumn(
        "bucket", F.pmod(F.hash(F.col(key)), F.lit(spec["n_buckets"]))
    )
    cur_files = [os.path.join(path, f["path"]) for f in cur["files"]]
    tagged = _scan(spark, path, m, cur_files).withColumn("_file", F.input_file_name())
    hit_uris = [
        r["_file"]
        for r in tagged.join(src.select(key), key, "left_semi")
        .select("_file")
        .distinct()
        .collect()
    ]
    replaced = {_uri_to_rel(u, path) for u in hit_uris}
    n_updated = 0
    n_matched_keys = 0
    if hit_uris:
        old_hit = _scan(spark, path, m, [os.path.join(path, r) for r in sorted(replaced)])
        n_updated = old_hit.join(src.select(key), key, "left_semi").count()
        # matched SOURCE keys, not matched old rows: if the existing
        # table holds duplicate rows per key, old-row counts overshoot
        # and rows_inserted would be undercounted (or negative)
        n_matched_keys = (
            src.select(key).join(old_hit.select(key), key, "left_semi").count()
        )
        kept_old = old_hit.join(src.select(key), key, "left_anti")
        out = kept_old.unionByName(src.select(*kept_old.columns))
    else:
        probe = _scan(spark, path, m, cur_files).limit(0)
        out = src.select(*probe.columns)
    summary = _cow_commit(path, m, cur, replaced, out, "merge")
    summary["rows_updated"] = n_updated
    summary["rows_inserted"] = n_src - n_matched_keys
    return summary


def delete_where(spark: SparkSession, path: str, condition) -> dict:
    """DELETE WHERE, copy-on-write at FILE granularity: only files
    containing at least one matching row are rewritten without their
    matches; everything else is untouched.  NULL predicate results keep
    the row (ANSI DELETE removes only WHERE=true).  A no-match delete
    commits nothing and returns a no-op summary."""
    m, cur = _current(path)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    hit = F.coalesce(cond, F.lit(False))
    if cur.get("delete_files"):
        raise ValueError(
            "table has merge-on-read delete files; run compact_table "
            "before a copy-on-write DELETE (a file-granular rewrite "
            "would resurrect MoR-deleted rows) — or use delete_where_mor"
        )
    cur_files = [os.path.join(path, f["path"]) for f in cur["files"]]
    tagged = _scan(spark, path, m, cur_files).withColumn("_file", F.input_file_name())
    hit_uris = [
        r["_file"] for r in tagged.where(hit).select("_file").distinct().collect()
    ]
    if not hit_uris:
        return {
            "snapshot_id": m["current_snapshot_id"],
            "operation": "delete",
            "files_rewritten": 0,
            "files_added": 0,
            "rows_deleted": 0,
            "total_rows": cur["total_rows"],
        }
    replaced = {_uri_to_rel(u, path) for u in hit_uris}
    old_hit = _scan(spark, path, m, [os.path.join(path, r) for r in sorted(replaced)])
    out = old_hit.where(~hit)
    summary = _cow_commit(path, m, cur, replaced, out, "delete")
    summary["rows_deleted"] = cur["total_rows"] - summary["total_rows"]
    return summary


# ------------------------------------------------ merge-on-read deletes


def _mor_delete(
    path: str,
    m: dict,
    cur: dict,
    rows: DataFrame,
    kind: str,
    operation: str,
    col: str | None = None,
) -> dict:
    """Write ``rows`` as one delete file and commit a merge-on-read
    snapshot: the SAME data files plus one more delete-file entry — no
    data file is touched (the cheap-write/deferred-read half of the
    Iceberg v2 contract; COW is the other half).  One snapshot id names
    the file, scopes an equality delete (``applies_seq``) and is the
    committed id.  The delete count comes from the file's footers; an
    empty delete file is removed and nothing is committed."""
    snap_id = _next_id(m)
    prefix = "posdel" if kind == "position" else "eqdel"
    rel = f"_deletes/{prefix}-{snap_id}"
    rows.write.mode("errorifexists").parquet(os.path.join(path, rel))
    n = sum(r for _f, r in _data_files(os.path.join(path, rel)))
    dels = list(cur.get("delete_files", []))
    if n == 0:
        import shutil

        shutil.rmtree(os.path.join(path, rel))
        return {
            "snapshot_id": m["current_snapshot_id"],
            "operation": operation,
            "delete_file": None,
            "delete_rows": 0,
            "delete_files_total": len(dels),
        }
    entry = {"path": rel, "rows": n, "kind": kind}
    if kind == "equality":
        entry.update(col=col, applies_seq=snap_id)
    dels.append(entry)
    _commit(path, m, [dict(f) for f in cur["files"]], operation, snap_id, dels)
    return {
        "snapshot_id": snap_id,
        "operation": operation,
        "delete_file": rel,
        "delete_rows": n,
        "delete_files_total": len(dels),
    }


def delete_where_mor(spark: SparkSession, path: str, condition) -> dict:
    """DELETE WHERE, merge-on-read via a POSITION delete file: matching
    rows are recorded as (file_path, pos) coordinates — derived from the
    scan's hidden ``_metadata`` (file path + row index) — and data files
    are NOT rewritten; readers anti-join the coordinates at scan time.
    The write costs one filtered scan plus a delete file proportional to
    the MATCHES (a 100-row delete on a 100 TB table writes ~100 rows),
    trading read-side work until ``compact_table`` folds the deletes
    back into clean files.  NULL predicate results keep the row; a
    no-match delete commits nothing."""
    m, cur = _current(path)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    hit = F.coalesce(cond, F.lit(False))
    cur_files = [os.path.join(path, f["path"]) for f in cur["files"]]
    base = _scan(spark, path, m, cur_files)
    # apply EXISTING deletes first so re-deleting an already-deleted row
    # cannot double-record a position
    if cur.get("delete_files"):
        base = _apply_mor_deletes(spark, path, cur, base)
    hits = (
        base.where(hit)
        .select(
            F.regexp_extract(F.col("_metadata.file_path"), _REL_FILE, 0)
            .alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
    )
    return _mor_delete(path, m, cur, hits, "position", "delete-mor")


def delete_keys_mor(spark: SparkSession, path: str, keys: DataFrame, col: str) -> dict:
    """DELETE BY KEY, merge-on-read via an EQUALITY delete file: the
    distinct key values are written once and readers anti-join them
    against every data file whose data sequence number predates this
    commit — rows APPENDED LATER with the same key survive (the Iceberg
    v2 equality-delete scoping).  The write never scans the table at
    all: cost is O(|keys|) regardless of table size — the GDPR/right-
    to-be-forgotten shape.  NULL keys are dropped (undeletable by
    equality).  Keys are stored as the table column's type, the type
    readers read them with; a key the cast changes matches no row and is
    dropped."""
    m, cur = _current(path)
    key = F.col(col)
    if m.get("schema"):
        key = key.cast(T.StructType.fromJson(m["schema"])[col].dataType)
    vals = keys.where(key.isNotNull() & (key == F.col(col)))
    vals = vals.select(key.alias(col)).distinct()
    return _mor_delete(path, m, cur, vals, "equality", "delete-mor-eq", col=col)
