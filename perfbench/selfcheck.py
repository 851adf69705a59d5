"""Toy-size self-check of the benchmark itself.

    python3 perfbench/run.py --selfcheck

1. Perturbs each workload's real output (one flipped ``zone_id``, one
   histogram count, one target sum, one source-zone mass, one oracle
   row) and checks that the matching correctness check rejects it.
2. Runs every workload at toy size, untraced and traced, each as its
   own ``run.py`` process, and checks that the printed metric names are
   exactly those of ``BENCHMARK.json`` and that every per-layer metric
   is measured (non-zero) on at least one workload.

Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

import run as R
from workloads import WORKLOADS, GregorRoundtrip, OpsMix

#: per-layer metrics that may read 0 on every toy run without a fault
#: (toy inputs neither spill nor wait on fetches, and a toy operation
#: started on a freshly collected heap may finish before any GC)
MAY_BE_ZERO = {"spark.spill_mb", "spark.fetch_wait_s", "spark.gc_s", "trace.overhead_s"}


def _expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        failures.append(what)


def metric_names(failures: list[str]) -> None:
    spec = R.load_spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    measured: set[str] = set()
    for name in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(R.HERE, "run.py"), "--workload", name, "--seed", "7",
                 "--seconds", "0", "--trace", str(trace), "--toy"],
                cwd=R.ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            _expect(p.returncode == 0 and bool(lines),
                    f"{name} trace={trace}: run exits 0 and prints a result", failures)
            if p.returncode or not lines:
                print(p.stderr[-2000:])
                continue
            res = json.loads(lines[-1])
            want = layers if trace else e2e
            _expect(list(res["metrics"]) == want,
                    f"{name} trace={trace}: metric names match BENCHMARK.json", failures)
            _expect(res["correct"] and res["failed"] == 0,
                    f"{name} trace={trace}: toy run correct", failures)
            if trace:
                measured |= {k for k, v in res["metrics"].items() if v["value"] != 0}
    missing = sorted(set(layers) - measured - MAY_BE_ZERO)
    _expect(not missing, f"every per-layer metric measured somewhere (missing: {missing})", failures)


def perturbations(failures: list[str]) -> None:
    work = os.path.join(R.HERE, "work", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = R.configure(work)
    spark = R.start_spark(work, cpus)
    try:
        for cls in (*WORKLOADS.values(), GregorRoundtrip, OpsMix):
            name = cls.name
            wdir = os.path.join(work, name)
            os.makedirs(wdir)
            w = cls(spark, 11, wdir, toy=True)
            w.setup()
            w.inputs(0)
            if hasattr(w, "prepare"):
                w.prepare()
            out = w.op()
            _expect(w.check(out) == [] and w.trace_check() == [],
                    f"{name}: unperturbed output passes", failures)
            for label, bad in _perturbed(w, out, wdir):
                _expect(bool(bad), f"{name}: {label}", failures)
    finally:
        R.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def _perturbed(w, out, wdir):
    """(label, truthy when the check did its job) for each perturbed
    copy of ``out``."""
    if w.name == "north_broadcast_write":
        t = pq.read_table(out)
        zid = t.column("zone_id").fill_null(-1).to_numpy().copy()
        i = int(np.flatnonzero(zid >= 0)[0])
        zid[i] = (zid[i] + 1) % 64
        bad = os.path.join(wdir, "flipped")
        os.makedirs(bad)
        pq.write_table(t.set_column(t.schema.get_field_index("zone_id"), "zone_id",
                                    [zid]), os.path.join(bad, "part.parquet"))
        yield "rejects one flipped zone_id", w.check(bad)
        short = os.path.join(wdir, "short")
        os.makedirs(short)
        pq.write_table(t.slice(1), os.path.join(short, "part.parquet"))
        yield "rejects one missing row", w.check(short)
    elif w.name == "north_salted_hist":
        moved = out.copy()
        moved.loc[0, "n_spans"] += 1
        moved.loc[1, "n_spans"] -= 1
        yield "rejects one span moved between cells", w.check(moved)
        yield "rejects one extra span", w.check(out.assign(n_spans=out["n_spans"] + (out.index == 0)))
    elif w.name == "gregor_roundtrip":
        raster, point = out
        r2 = raster.copy()
        r2.iloc[0, 1] *= 1 + 1e-7
        yield "rejects one raster target sum off by 1e-7", w.check((r2, point))
        p2 = point.copy()
        p2.iloc[0, 1] *= 1 + 1e-7
        yield "rejects one point target sum off by 1e-7", w.check((raster, p2))
        mass = w.mass()
        z = next(iter(mass[0]))
        r_mass = dict(mass[0])
        r_mass[z] *= 1 + 1e-7
        yield "rejects one source-zone mass off by 1e-7", w.check_mass((r_mass, mass[1]))
    elif w.name == "ops_mix":
        yield from _perturbed_ops(w)


def _perturbed_ops(ops):
    oracle = ops.oracle()
    for q, (cols, rows) in ops.results.items():
        if rows:
            yield f"rejects {q} with one row dropped", ops.check_results({q: (cols, rows[1:])}, oracle)
            row = list(rows[0])
            j = next((k for k, v in enumerate(row) if isinstance(v, (int, float))
                      and not isinstance(v, bool)), None)
            if j is not None:
                row[j] = row[j] + 1
                yield f"rejects {q} with one value changed", ops.check_results(
                    {q: (cols, [tuple(row)] + rows[1:])}, oracle)


def main() -> int:
    failures: list[str] = []
    perturbations(failures)
    metric_names(failures)
    print(f"selfcheck: {len(failures)} failure(s)" + "".join(f"\n  {f}" for f in failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
