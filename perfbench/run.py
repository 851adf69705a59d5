"""Repository benchmark: north-rule tiling over a seeded corpus, one
workload per invocation.  The traced runs also time gregor's four
primitives and a mix of gated registry queries.

    python3 perfbench/run.py --workload north_broadcast_write --seed 1 \\
        --seconds 6 --trace 0
    python3 perfbench/run.py --selfcheck      # toy sizes, a few minutes

Load shape: closed loop, one client.  One operation runs at a time on
``local[nproc]``.  Inputs come from ``gen.py`` and depend only on
``--seed``.

``--trace 0`` prints the end-to-end metrics.  ``setup_s`` is the
process's age after its one-time set-up (imports, session start, zones,
cold cover) plus the median of ``SETUP_ROUNDS`` set-up rounds, each of
which generates, commits and references the inputs and runs one untimed
warm-up operation.  The operation then repeats for ``--seconds`` (at
least ``MIN_OPS`` times); operations the hypervisor stole CPU from are
replaced for a while, and ``wall_s``, ``cpu_s`` and ``peak_rss_mb`` are
medians over the kept ones.  ``docs_per_s`` is corpus documents per
second of that median wall.

``--trace 1`` runs the traced phase (see ``traced``) and prints the
per-layer metrics of ``BENCHMARK.json``; layers a workload does not
exercise read 0.  The last stdout line is the result object; the line
before it holds the host context.  A run record with the spans goes to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probe  # noqa: E402


class Spans:
    """In-memory spans (name, start, end, parent, run), written at exit."""

    def __init__(self, run: str):
        self.run, self.items = run, []
        self.t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: str | None = None):
        self.items.append({"name": name, "start": round(start - self.t0, 6),
                           "end": round(end - self.t0, 6), "parent": parent, "run": self.run})
        return end - start


def configure(work: str) -> int:
    """Size the session from this side: all cores, half the RAM, scratch
    and shuffle directories inside the checkout."""
    cpus = probe.host()["nproc"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, round(probe.mem_total_mb() / 2048))}g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return cpus


def start_spark(work: str, cpus: int, event_log: bool = False):
    from gregor_spark.session import get_spark

    extra = {
        # a fixed young generation keeps the heap's footprint, and so
        # peak_rss_mb, from following G1's run-to-run resizing decisions
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xmn1g -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app="perfbench", master=f"local[{cpus}]", extra=extra)


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(probe.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def gc(spark) -> None:
    """Collect the driver heap, so GC debt and heap growth from earlier
    operations do not leak into the next timing."""
    spark._jvm.System.gc()


#: set-up rounds per untraced run; ``setup_s`` takes their median
SETUP_ROUNDS = 3
#: timed operations a run keeps at least
MIN_OPS = 3
#: an operation counts as stolen from when the hypervisor took more than
#: this share of the host's core-seconds during it (steal, /proc/stat)
STEAL_MAX = 0.05
#: how long, in multiples of ``--seconds``, a run goes on replacing
#: stolen-from operations before it keeps the least stolen-from ones
PATIENCE = 1
#: warm-ups in each restarted session of the traced run, the operations
#: timed there, and the rounds of layer cuts
TRACE_WARM = 1
TRACE_OPS = 2


class Runner:
    def __init__(self, workload, spans: Spans, sampler, cpus: int):
        self.w, self.spans, self.sampler, self.cpus = workload, spans, sampler, cpus
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []  # timed operations
        self.last_out = None

    def _fail(self, errs: list[str]) -> None:
        self.failed += 1
        self.errors.extend(errs)

    def once(self, label: str, measure: bool = True) -> dict:
        """One checked operation, run under the job description
        ``label``; returns its record (wall, cpu, peak, steal share)."""
        prepare = getattr(self.w, "prepare", None)
        if prepare:
            prepare()
        gc(self.w.spark)
        self.w.spark.sparkContext.setJobDescription(label)
        self.attempted += 1
        self.sampler.take()
        c0 = probe.tree_cpu_s()
        s0 = probe.host_cpu_s()["steal_s"]
        t0 = time.perf_counter()
        try:
            out = self.w.op()
        except Exception as e:  # a failed run is a failed operation
            out, err = None, [f"{label}: {type(e).__name__}: {str(e)[:300]}"]
        else:
            err = []
        t1 = time.perf_counter()
        steal = probe.host_cpu_s()["steal_s"] - s0
        cpu = probe.tree_cpu_s() - c0
        peak = self.sampler.take()
        self.spans.add(label, t0, t1, "run")
        if not err:
            err = self.w.check(out)
        if err:
            self._fail(err)
        self.last_out = out
        rec = {"label": label, "wall": t1 - t0, "cpu": cpu, "peak": peak,
               "steal_share": steal / ((t1 - t0) * self.cpus)}
        if measure:
            self.ops.append(rec)
        return rec

    def clean(self) -> list[dict]:
        return [o for o in self.ops if o["steal_share"] <= STEAL_MAX]

    def kept(self, n: int) -> list[dict]:
        """The timed operations the figures come from: those not stolen
        from or, when fewer than ``n``, the ``n`` least stolen from."""
        clean = self.clean()
        return clean if len(clean) >= n else sorted(self.ops, key=lambda o: o["steal_share"])[:n]


def timed_loop(r: Runner, seconds: float, min_ops: int, patience: float = 0.0) -> None:
    """Repeat the operation for ``seconds`` and at least ``min_ops``
    times; for up to ``patience`` seconds more, go on until ``min_ops``
    of them ran without being stolen from."""
    t0 = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t0
        if len(r.ops) >= min_ops and elapsed >= seconds and (
                len(r.clean()) >= min_ops or elapsed >= seconds + patience):
            return
        if r.failed > 3 and len(r.ops) >= min_ops:
            return
        r.once(f"op{len(r.ops)}")


def median_of(ops: list[dict], key: str) -> float:
    return statistics.median(o[key] for o in ops)


def time_cuts(w, sc, spans: Spans, rounds: int = 1, first=None):
    """Time each layer cut of ``w`` (the planning call, then its action)
    in ``rounds`` round-robin rounds, so the JVM's slow warming does not
    favour whichever cut is timed last; ``first(i)`` runs at the start
    of round ``i``.  Returns the self time per layer, as the cut's
    median minus its base cut's median."""
    from workloads import noop

    prepare = getattr(w, "prepare", lambda: None)
    cuts = list(w.cuts())
    walls: dict[str, list[float]] = {metric: [] for metric, _, _ in cuts}
    for i in range(rounds):
        if first:
            first(i)
        for metric, build, _base in cuts:
            prepare()
            gc(w.spark)
            sc.setJobDescription(f"cut:{metric}:{i}")
            t0 = time.perf_counter()
            obj = build()
            t_plan = time.perf_counter()
            obj() if callable(obj) else noop(obj)
            t1 = time.perf_counter()
            spans.add(f"plan:{metric}", t0, t_plan, f"cut:{metric}")
            walls[metric].append(spans.add(f"cut:{metric}", t0, t1, "trace"))
    med = {metric: statistics.median(v) for metric, v in walls.items()}
    return {metric: med[metric] - (med[base] if base else 0.0) for metric, _, base in cuts}


def traced(w, r: Runner, restart, work: str) -> tuple[dict, dict]:
    """The traced run after set-up round 0.  The session restarts twice,
    with the event log off and then on; in each, ``TRACE_OPS``
    operations are timed after ``TRACE_WARM`` warm-ups, so the tracing
    overhead compares operations equally far from a restart.  Then each
    round of layer cuts starts with one operation timed whole, and the
    layer self times are checked against those, which are as warm as
    the cuts.  The companions' cuts follow.  Returns (per-layer
    metrics, context)."""
    import eventlog

    w.spark.stop()
    w.spark = restart(event_log=False)
    for i in range(TRACE_WARM):
        r.once(f"warm:untraced{i}", measure=False)
    timed_loop(r, 0, TRACE_OPS)
    untraced = median_of(r.ops, "wall")

    w.spark.stop()
    spark = w.spark = restart(event_log=True)
    sc = spark.sparkContext
    for i in range(TRACE_WARM):
        r.once(f"warm:traced{i}", measure=False)
    r.ops = []
    timed_loop(r, 0, TRACE_OPS)
    wall = median_of(r.ops, "wall")
    whole: list[dict] = []
    m = time_cuts(w, sc, r.spans, TRACE_OPS,
                  lambda i: whole.append(r.once(f"op:round{i}", measure=False)))
    last, out = whole[-1], r.last_out
    share = {w.name: sum(m.values()) / median_of(whole, "wall")}
    w.driver_probes()
    m.update(w.probes)
    for c in w.companions:
        c.spark = spark
        for _ in range(c.warm_ops):
            sc.setJobDescription(f"warm:{c.name}")
            c.op()
        if c.warm_ops:  # a chained companion: whole operations timed as the north ones
            outs: list[tuple] = []  # (output, wall) per round

            def timed_op(i, c=c, outs=outs):
                sc.setJobDescription(f"op:{c.name}:{i}")
                t0 = time.perf_counter()
                outs.append((c.op(), time.perf_counter() - t0))

            cm = time_cuts(c, sc, r.spans, TRACE_OPS, timed_op)
            c_out = outs[-1][0]
            share[c.name] = sum(cm.values()) / statistics.median(t for _, t in outs)
        else:
            cm, c_out = time_cuts(c, sc, r.spans), None
        m.update(cm)
        m.update(c.probes)
        r.attempted += 1
        errs = c.check(c_out) + c.trace_check()
        if errs:
            r._fail(errs)
    sc.setJobDescription(None)
    spark.stop()
    events = eventlog.read(os.path.join(work, "eventlog"))
    # Spark's own figures come from the last whole traced operation
    figures = eventlog.summarize(events, {last["label"]}, last["wall"])
    m.update(figures)
    m.update(w.trace_metrics(out, figures))
    for metric in list(m):
        if metric.startswith("ops."):
            m[metric[: -len(".s")] + ".jobs"] = eventlog.job_count(events, f"cut:{metric}:0")
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - untraced
    return m, {"untraced_wall_s": untraced, "self_time_share": share}


def emit(result: dict, context: dict, spans: Spans, out_dir: str, tag: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"context": context, "result": result, "spans": spans.items}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool, toy: bool = False) -> dict:
    import gregor_spark  # noqa: F401  (the engine must be importable from the checkout)
    from workloads import WORKLOADS

    spec = load_spec()
    work = os.path.join(HERE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = configure(work)
    busy_before = probe.busy_loop_rate()
    host_before = probe.host_cpu_s()
    spans = Spans(f"{workload}-{seed}-{int(trace)}")
    w = None
    sampler = probe.RssSampler()
    context: dict = {"workload": workload, "seed": seed, "trace": int(trace), **probe.host(),
                     "busy_loop_before": busy_before}
    try:
        w = WORKLOADS[workload](start_spark(work, cpus), seed, work, toy, trace)
        r = Runner(w, spans, sampler, cpus)
        t0 = time.perf_counter()
        w.setup()
        spans.add("setup", t0, time.perf_counter(), None)
        # imports, session start and the one-time set-up, paid once
        once_s = probe.process_age_s()
        rounds = []
        for i in range(1 if trace else SETUP_ROUNDS):
            t0 = time.perf_counter()
            w.inputs(i)
            r.once(f"warm{i}", measure=False)
            rounds.append(spans.add(f"setup-round{i}", t0, time.perf_counter(), None))
        for name, a, b in w.steps:
            spans.add(name, a, b, "setup")
        context["setup"] = {"once_s": once_s, "rounds_s": rounds}
        if trace:
            metrics, info = traced(w, r, lambda event_log: start_spark(work, cpus, event_log), work)
            context.update(info)
            if workload == "north_broadcast_write":
                # information only, never a gate: local[1] against local[nproc]
                w.spark = start_spark(work, 1)
                t1 = r.once("op:local1", measure=False)["wall"]
                t_n = info["untraced_wall_s"]
                context["scaling"] = {"t_local1_s": t1, "t_localN_s": t_n, "n": cpus,
                                      "efficiency": t1 / t_n / cpus}
            result_metrics = {
                p["name"]: {"value": float(metrics.get(p["name"], 0.0)), "unit": p["unit"]}
                for p in spec["per_layer"]
            }
        else:
            timed_loop(r, seconds, MIN_OPS, PATIENCE * seconds)
            kept = r.kept(MIN_OPS)
            wall = median_of(kept, "wall")
            values = {
                "setup_s": once_s + statistics.median(rounds),
                "wall_s": wall,
                "docs_per_s": w.units() / wall,
                "cpu_s": median_of(kept, "cpu"),
                # median over operations of each one's peak: one operation's
                # transient (a heap resize, an extra worker) does not set it
                "peak_rss_mb": median_of(kept, "peak"),
            }
            result_metrics = {e["name"]: {"value": values[e["name"]], "unit": e["unit"]}
                              for e in spec["end_to_end"]}
            context["ops"] = {"timed": len(r.ops), "kept": len(kept),
                              "steal_share": [round(o["steal_share"], 4) for o in r.ops]}
        context["rss_mb_by_command"] = probe.rss_by_command(probe.tree_pids())
    finally:
        sampler.stop()
        shutdown(w.spark if w else None)
    context["busy_loop_after"] = probe.busy_loop_rate()
    host_after = probe.host_cpu_s()
    context.update({f"host_{k}": host_after[k] - host_before[k] for k in host_after})
    context["errors"] = r.errors[:10]
    result = {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
              "metrics": result_metrics}
    emit(result, context, spans, os.path.join(HERE, "out"),
         f"{workload}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes (the self-check's)")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args(argv)
    if a.selfcheck:
        import selfcheck

        return selfcheck.main()
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    run(a.workload, a.seed, a.seconds, bool(a.trace), a.toy)
    return 0


if __name__ == "__main__":
    sys.exit(main())
