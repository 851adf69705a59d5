"""The workloads: seeded inputs, the timed operation, its checks, and
the layer cuts the traced run times.

Each workload calls the engine only through public functions.  ``op()``
is what a run times; ``check()`` verifies its output against the numpy
references built in ``setup()`` or ``inputs()`` and runs outside the
timing.
``cuts()`` lists the traced run's pipeline cuts in order, each as
(metric, build, base): ``build`` returns a DataFrame (sent to a ``noop``
sink) or, for a terminal layer, a callable performing the layer's own
action; the layer's self time is its cut's time minus the cut time of
``base`` (None for the first layer of a chain).  A north workload's
cuts form one chain whose last cut is its whole operation.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import ref

NORTH_RES = 8
NORTH_BUCKETS = 8
SALT_FACTOR = 16


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rate(fn, n: int) -> float:
    """Items per second of one call ``fn()`` over ``n`` items."""
    t0 = time.perf_counter()
    fn()
    return n / (time.perf_counter() - t0)


class Workload:
    name = ""
    # untimed runs of a companion before its cuts: the first pays worker
    # start and JIT
    warm_ops = 0

    def __init__(self, spark, seed: int, work: str, toy: bool, trace: bool = False):
        self.spark, self.seed, self.work, self.toy, self.trace = spark, seed, work, toy, trace
        self.probes: dict[str, float] = {}
        self.steps: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def step(self, name: str):
        """Record a set-up step as a child span of ``setup``."""
        t0 = time.perf_counter()
        yield
        self.steps.append((name, t0, time.perf_counter()))

    def setup(self) -> None:
        """One-time set-up of the process."""
        raise NotImplementedError

    def inputs(self, i: int) -> None:
        """Set-up round ``i``: generate, commit and reference the inputs
        afresh (the same ones each round).  The run repeats it to take
        the median set-up time."""

    def op(self):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def units(self) -> int:
        """Input records one operation processes (for ``docs_per_s``)."""
        raise NotImplementedError

    def cuts(self):
        raise NotImplementedError

    def trace_check(self) -> list[str]:
        return []

    def trace_metrics(self, out, figures: dict) -> dict[str, float]:
        """Per-layer metrics read off the traced operation's output and
        its event-log ``figures``."""
        return {}


# --------------------------------------------------------------- north


class North(Workload):
    """Shared inputs of the two north-rule workloads: the corpus committed
    with ``write_table`` and the 64-zone star layer."""

    keep_unassigned = True

    def companion_types(self) -> tuple:
        """Workloads whose layers ride on this one's traced run (their
        docstrings say why they have no run of their own)."""
        return ()

    def setup(self):
        self.n_docs = 2_000 if self.toy else 60_000
        self.salt_threshold = max(self.n_docs // 1000, 2)
        with self.step("zones"):
            self.zone_ids, self.rings = gen.star_zones(self.seed)
            self.zones = gen.zoneset(self.zone_ids, self.rings)
        # the zone cover memo is cold only on its first call in a process
        with self.step("cover"):
            t0 = time.perf_counter()
            self.cover = self.zones.cover(NORTH_RES, gen.NORTH_BOUNDS)
            self.probes["zones.cover_s"] = time.perf_counter() - t0
        self.companions = []
        if self.trace:  # companions serve the traced run alone
            self.companions = [c(self.spark, self.seed, os.path.join(self.work, c.name), self.toy)
                               for c in self.companion_types()]
            for c in self.companions:
                with self.step(f"companion:{c.name}"):
                    c.setup()

    def inputs(self, i):
        from gregor_spark.sources.iceberg_like import write_table

        with self.step(f"generate{i}"):
            table, geo = gen.corpus(self.seed, self.n_docs, self.rings)
            staging = os.path.join(self.work, f"staging{i}.parquet")
            pq.write_table(table, staging)
        with self.step(f"commit{i}"):
            old, self.table = getattr(self, "table", None), os.path.join(self.work, f"corpus{i}")
            write_table(self.spark.read.parquet(staging), self.table, "doc_id", NORTH_BUCKETS)
        with self.step(f"reference{i}"):
            self.geo = geo
            self.zone_of = ref.assign(geo["x"], geo["y"], self.zone_ids, self.rings)
            self.cells = ref.morton_cell(geo["x"], geo["y"], NORTH_RES, gen.NORTH_BOUNDS)
            self.want_zones = ref.counts(self.zone_of)
            kept = self.cells if self.keep_unassigned else self.cells[self.zone_of >= 0]
            self.want_cells = ref.counts(kept)
        os.remove(staging)
        if old:
            shutil.rmtree(old, ignore_errors=True)

    def driver_probes(self):
        """Driver-only probes of the traced run: the share of geo spans
        in boundary cells of the public cover, and the kernels' rates on
        the generated coordinates."""
        boundary = np.fromiter((cid for _zid, cid, full in self.cover if not full), np.int64)
        self.probes["spatial_join.boundary_frac"] = float(np.isin(self.cells, boundary).mean())
        self._kernel_probes()

    def _kernel_probes(self):
        from gregor_spark.geo import kernels as K

        n = min(20_000, len(self.geo["x"]))
        px, py = self.geo["x"][:n], self.geo["y"][:n]
        lookup = self.zones.geometry_lookup()
        ring_list = self.zones.rings_list()
        self.probes["kernels.claims_pts_per_s"] = rate(
            lambda: [K.claims_raster_cell_rings(px, py, r) for r in lookup.values()],
            n * len(lookup))
        self.probes["kernels.within_pts_per_s"] = rate(
            lambda: [K.points_within_rings(px, py, r) for r in lookup.values()],
            n * len(lookup))
        self.probes["kernels.assign_cells_pts_per_s"] = rate(
            lambda: K.assign_cells_rings(px, py, self.zones.zone_ids, ring_list), n)

    def units(self):
        return self.n_docs

    def docs(self):
        from gregor_spark.sources.iceberg_like import read_table

        return read_table(self.spark, self.table).select("doc_id", "spans")

    def tiled(self, docs):
        from gregor_spark.operators.tiles import assign_tiles

        return assign_tiles(docs, NORTH_RES, gen.NORTH_BOUNDS, zones=self.zones,
                            keep_unassigned=self.keep_unassigned, **self.join_kwargs())

    def _prefix_cuts(self):
        from gregor_spark.operators.spatial_join import with_cell_id
        from gregor_spark.operators.tiles import extract_geo_points

        return [
            ("sources.read_s", self.docs, None),
            ("tiles.extract_s", lambda: extract_geo_points(self.docs()), "sources.read_s"),
            ("spatial_join.encode_s", lambda: with_cell_id(
                extract_geo_points(self.docs()), NORTH_RES, gen.NORTH_BOUNDS, x="lon", y="lat"),
             "tiles.extract_s"),
        ]


class NorthBroadcastWrite(North):
    name = "north_broadcast_write"

    def companion_types(self):
        return (GregorRoundtrip,)

    def join_kwargs(self):
        return {}  # the planner's default: broadcast cover for this layer

    def prepare(self):
        shutil.rmtree(os.path.join(self.work, "ckpt"), ignore_errors=True)

    def op(self):
        from gregor_spark.plans.checkpoint import CheckpointedRun

        root = os.path.join(self.work, "ckpt")
        side = self.tiled(self.docs()).select("doc_id", "offset", "cell_id", "zone_id")
        CheckpointedRun(self.spark, root).run_stage("tiles", lambda: side)
        return os.path.join(root, "tiles", "data")

    def check(self, out):
        zid = pq.read_table(out, columns=["zone_id"]).column("zone_id").fill_null(-1).to_numpy()
        return ref.check_zone_counts(zid, self.want_zones, len(self.zone_of))

    def cuts(self):
        return self._prefix_cuts() + [
            ("spatial_join.assign_s", lambda: self.tiled(self.docs()), "spatial_join.encode_s"),
            ("checkpoint.write_s", lambda: self.op, "spatial_join.assign_s"),
        ]


class NorthSaltedHist(North):
    """Histogram of the zone-assigned spans per tile.  Only spans inside a
    zone are counted: with every span kept the histogram never reads
    ``zone_id``, and Catalyst then prunes the refine and the salted join
    out of the plan, so the layers this workload exists for never run."""

    name = "north_salted_hist"
    keep_unassigned = False

    def join_kwargs(self):
        return {"broadcast_cover": False, "salt_threshold": self.salt_threshold,
                "salt_factor": SALT_FACTOR}

    def op(self):
        from gregor_spark.operators.tiles import tile_histogram

        return tile_histogram(self.tiled(self.docs())).toPandas()

    def check(self, out):
        return ref.check_histogram(out["cell_id"].to_numpy(), out["n_spans"].to_numpy(),
                                   self.want_cells, int((self.zone_of >= 0).sum()))

    def companion_types(self):
        return (OpsMix,)

    def trace_metrics(self, out, figures):
        # the refine UDF is the plan's one Python node and sees every
        # candidate; zones do not overlap, so each assigned span is one
        # surviving candidate
        rows = figures.get("python.rows", 0)
        return {"spatial_join.refine_keep_ratio": int(out["n_spans"].sum()) / rows if rows else 0.0}

    def hot(self):
        from gregor_spark.operators.spatial_join import hot_cells, with_cell_id
        from gregor_spark.operators.tiles import extract_geo_points

        keyed = with_cell_id(extract_geo_points(self.docs()), NORTH_RES, gen.NORTH_BOUNDS,
                             x="lon", y="lat")
        return hot_cells(keyed, self.salt_threshold)

    def cuts(self):
        def hot_action():
            self.probes["spatial_join.hot_cells"] = len(self.hot().collect())

        return self._prefix_cuts() + [
            ("spatial_join.hot_cells_s", lambda: hot_action, "spatial_join.encode_s"),
            ("spatial_join.join_s", lambda: self.tiled(self.docs()), "spatial_join.hot_cells_s"),
            ("tiles.histogram_s", lambda: self.op, "spatial_join.join_s"),
        ]


# --------------------------------------------------------------- gregor


class GregorRoundtrip(Workload):
    """Gregor's four primitives: polygon to raster and to points, then back
    to a target layer.  Its operation costs ~4 s of mostly fixed job time
    plus ~15 s cold on a 4-core host, too much for a run of its own within
    the benchmark's time budget, so it rides on the traced run of
    ``north_broadcast_write``, whose Arrow UDF layer it shares."""

    name = "gregor_roundtrip"
    warm_ops = 1

    def setup(self):
        os.makedirs(self.work, exist_ok=True)
        if self.toy:
            g = gen.gregor_inputs(self.seed, 40, 30, 2_000, src_k=4, tgt_k=4)
        else:
            g = gen.gregor_inputs(self.seed, 128, 128, 10_000, src_k=4, tgt_k=8)
        self.raster_path = os.path.join(self.work, "raster.parquet")
        self.points_path = os.path.join(self.work, "points.parquet")
        pq.write_table(g["raster"], self.raster_path)
        pq.write_table(g["points"], self.points_path)
        self.src = gen.zoneset(*g["src"], values=g["values"])
        self.tgt = gen.zoneset(*g["tgt"])
        cx, cy, proxy = g["cells"]
        px, py, wt = g["pts"]
        self.n_units = len(cx) + len(px)
        s_cell = ref.assign(cx, cy, *g["src"])
        t_cell = ref.assign(cx, cy, *g["tgt"])
        s_pt = ref.assign(px, py, *g["src"])
        t_pt = ref.assign(px, py, *g["tgt"])
        if (s_cell < 0).any() or (t_cell < 0).any() or (s_pt < 0).any() or (t_pt < 0).any():
            raise RuntimeError("generated layers must cover every cell and point")
        self.want_src = dict(g["values"])
        self.want_raster = ref.zone_sums(t_cell, ref.apportion(s_cell, proxy, g["values"]))
        self.want_point = ref.zone_sums(t_pt, ref.apportion(s_pt, wt, g["values"]))
        self._kernel_probes(cx, cy)

    def _kernel_probes(self, cx, cy):
        from gregor_spark.geo import kernels as K

        n = min(20_000, len(cx))
        px, py = cx[:n], cy[:n]
        tgt_rings = self.tgt.rings_list()
        self.probes["kernels.claims_pts_per_s"] = rate(
            lambda: [K.claims_raster_cell_rings(px, py, r) for r in tgt_rings],
            n * len(tgt_rings))
        self.probes["kernels.within_pts_per_s"] = rate(
            lambda: [K.points_within_rings(px, py, r) for r in tgt_rings],
            n * len(tgt_rings))
        self.probes["kernels.assign_cells_pts_per_s"] = rate(
            lambda: K.assign_cells_rings(px, py, self.tgt.zone_ids, tgt_rings), n)

    def units(self):
        return self.n_units

    def disagg_raster(self):
        from gregor_spark.operators.disaggregate import disaggregate_polygon_to_raster

        return disaggregate_polygon_to_raster(self.src, self.spark.read.parquet(self.raster_path))

    def agg_raster(self):
        from gregor_spark.operators.aggregate import aggregate_raster_to_polygon

        return aggregate_raster_to_polygon(self.disagg_raster(), self.tgt, stats="sum",
                                           value="disaggregated", nodata=None)

    def disagg_point(self):
        from gregor_spark.operators.disaggregate import disaggregate_polygon_to_point

        return disaggregate_polygon_to_point(self.src, self.spark.read.parquet(self.points_path))

    def agg_point(self):
        from gregor_spark.operators.aggregate import aggregate_point_to_polygon

        return aggregate_point_to_polygon(self.disagg_point(), self.tgt, "sum",
                                          value="disaggregated")

    def op(self):
        return self.agg_raster().toPandas(), self.agg_point().toPandas()

    def check(self, out):
        raster, point = out
        errs = ref.check_sums("raster target sums", dict(zip(raster.iloc[:, 0], raster.iloc[:, 1])),
                              self.want_raster)
        return errs + ref.check_sums("point target sums", dict(zip(point.iloc[:, 0], point.iloc[:, 1])),
                                     self.want_point)

    def mass(self):
        """Disaggregated mass per source zone, raster and point paths."""
        from pyspark.sql import functions as F

        return tuple(
            dict(df.groupBy("zone_id").agg(F.sum("disaggregated")).collect())
            for df in (self.disagg_raster(), self.disagg_point())
        )

    def check_mass(self, mass) -> list[str]:
        raster, point = mass
        return (ref.check_sums("raster mass per source zone", raster, self.want_src)
                + ref.check_sums("point mass per source zone", point, self.want_src))

    def trace_check(self):
        return self.check_mass(self.mass())

    def cuts(self):
        from gregor_spark.operators.assign import assign_cells_df

        return [
            ("assign.cells_s", lambda: assign_cells_df(
                self.spark.read.parquet(self.raster_path), self.src, keep_unassigned=False), None),
            ("disaggregate.raster_s", self.disagg_raster, "assign.cells_s"),
            ("aggregate.raster_s", lambda: lambda: self.agg_raster().toPandas(),
             "disaggregate.raster_s"),
            ("disaggregate.point_s", self.disagg_point, None),
            ("aggregate.point_s", lambda: lambda: self.agg_point().toPandas(),
             "disaggregate.point_s"),
        ]


# ------------------------------------------------------------ ops queries

#: gated registry queries timed in the traced ``north_salted_hist`` run:
#: small-input gates and single-task twins (graph, DBSCAN, capped
#: Jaccard) plus the overlay carry-over
OPS = ("kcore3", "dbscan", "jaccard_capped", "seg_intersections")


class OpsMix(Workload):
    """Registry queries over generated sf0.01-sized tables, each run once
    per traced run with its result collected and matched against its
    DuckDB oracle.  Dominated by fixed job cost, so too slow for a run of
    its own within the benchmark's time budget."""

    name = "ops_mix"
    warm_ops = 0  # each query runs once per invocation, as its cut

    def setup(self):
        from gregor_spark.entry_queries import REGISTRY

        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf)
        tables = gen.ops_tables(self.seed, 500, 10_000, 500)  # sf0.01 shapes, toy or not
        for name, t in tables.items():
            pq.write_table(t, os.path.join(self.sf, f"{name}.parquet"))
        self.registry = {q: REGISTRY[q] for q in OPS}
        self.results: dict[str, tuple] = {}

    def collect(self, spark, q: str) -> None:
        df = self.registry[q][0](spark, self.sf)
        self.results[q] = (df.columns, [tuple(r) for r in df.collect()])

    def oracle(self) -> dict[str, tuple]:
        """Each query's DuckDB oracle rows over the same tables."""
        import duckdb

        con = duckdb.connect()
        for t in ("documents", "events", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        out = {}
        for q, (_fn, sql) in self.registry.items():
            rel = con.sql(sql)
            out[q] = ([d[0] for d in rel.description], rel.fetchall())
        con.close()
        return out

    def check_results(self, results: dict, oracle: dict) -> list[str]:
        errs = []
        for q, (cols, rows) in results.items():
            errs += ref.check_rows(q, cols, rows, *oracle[q])
        return errs

    def op(self):
        """Every query once, results kept for the oracle check."""
        for q in OPS:
            self.collect(self.spark, q)

    def check(self, out):
        return self.check_results(self.results, self.oracle())

    def cuts(self):
        return [(f"ops.{q}.s", lambda q=q: lambda: self.collect(self.spark, q), None)
                for q in OPS]


WORKLOADS = {w.name: w for w in (NorthBroadcastWrite, NorthSaltedHist)}
