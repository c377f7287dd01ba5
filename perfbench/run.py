#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

* ``interactive`` — registry queries and RAG requests over a seeded star
  schema and chunk store, on a warm session (one untimed warm-up cycle);
* ``lake_day``    — one simulated day, timed cold like a daily batch job:
  the daily content pipeline, five snapshot-lake commit kinds, pruned
  reads, retrieval over the fresh store, then the pretraining curation
  chain and survivor near-dup clustering over a delta with planted cases.

Each run builds its own Spark session on ``local[nproc]``, generates its
inputs from ``--seed``, sets up (bootstrap state, oracle answers, warm-up
where the workload has one), then runs whole repetitions in a closed loop
with one client until ``--seconds`` have passed. Every op's output is
checked; an op that raises or returns a wrong answer counts as failed,
with its error text printed. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced run (Spark event log + spans, one repetition). The run
manifest (sizes, nproc, RAM, Spark version, driver memory, every op's
wall, errors) and the traced run's per-span, per-layer records go to
``.perfbench_out/`` at the checkout root; scratch state lives in
``.perfbench_run/`` and is removed at exit.
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
PACKAGE = "mlb_data_pipeline_spark"
TRACE_REPS = 1  # repetitions of a traced run: fixed, so counts repeat exactly


def _process_start() -> float:
    """Wall-clock time this process started (from /proc), so ``setup_s``
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return time.time() - up + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = _process_start()


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    def __init__(self, args, run_dir, spark, tracer):
        self.seed = args.seed
        self.run_dir = run_dir
        self.spark = spark
        self.tracer = tracer
        self.sizes: dict = {}
        self.input_bytes = 0
        self.phases: dict[str, float] = {}
        self._t = time.time()

    def mark(self, phase: str) -> None:
        """Close a set-up phase: its wall since the previous mark."""
        now = time.time()
        self.phases[phase] = now - self._t
        self._t = now


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        _fail(f"package {PACKAGE!r} not found next to {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench import harness, trace
    from perfbench.layers import layer_metrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    cpus = harness.nproc()
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(run_dir, "local"), exist_ok=True)
    # Python workers are forked by the JVM: they find the package only
    # through PYTHONPATH, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "local")
    # the JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'local')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's default heap is 16g; the benchmark pins 4g so that
    # peak RSS reflects the workload, not how far a huge heap grows
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    spark = None
    try:
        t0 = time.time()
        spark, conf = harness.make_session(run_dir, bool(args.trace))
        session_s = time.time() - t0
        ctx = Ctx(args, run_dir, spark, trace.Tracer(None))
        ctx.phases.update({"start": t0 - T_START, "session": session_s})
        wl = WORKLOADS[args.workload](ctx)
        warm = harness.Ops(ctx.tracer, checks=False)
        wl.setup(warm)
        ctx.mark("warmup")
        setup_s = time.time() - T_START
        tracer = trace.Tracer(spark if args.trace else None)
        ctx.tracer = tracer
        ops = harness.Ops(tracer)
        units: list[float] = []
        reps = 0
        t_run = time.time()
        while True:
            busy = ops.busy_s
            wl.rep(reps, ops)
            reps += 1
            if wl.unit == "rep":
                units.append(ops.busy_s - busy)
            if args.trace:
                if reps >= TRACE_REPS:
                    break
            elif time.time() - t_run >= args.seconds:
                break
        measured_s = time.time() - t_run
        if wl.unit == "request":
            units = [w for v in ops.walls.values() for w in v]
        if not units:
            raise RuntimeError(f"no op completed; errors: {ops.errors[:5]}")
        # a warm-up op that raised counts as failed
        ops.attempted += warm.attempted
        ops.failed += warm.failed
        ops.errors = [f"warm-up {e}" for e in warm.errors] + ops.errors
        # gated: set-up wall and CPU (driver + JVM + Python workers, inside
        # the timed ops) per unit of work. Wall per unit is printed but not
        # gated: on a shared 4-core VM other tenants slow whole runs, and its
        # spread over ten seeds reached 0.16, against at most 0.09 for CPU.
        e2e = {"setup_s": (setup_s, "s"), "unit_cpu_s": (ops.cpu_s / len(units), "s")}
        detail = {**wl.detail(ops), "unit_wall_s": (statistics.mean(units), "s"),
                  "unit_p50_s": (statistics.median(units), "s"), "peak_rss_mb": (harness.peak_rss_mb(), "MiB"),
                  "failed_frac": (ops.failed_frac, "ratio"), "session_start_s": (session_s, "s")}
        manifest = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "why": _why(args.workload), "sizes": ctx.sizes, "input_bytes": ctx.input_bytes,
            "nproc": cpus, "mem_total_mb": _mem_total_mb(), "spark_version": spark.version,
            "spark.driver.memory": conf.get("spark.driver.memory"), "master": spark.sparkContext.master,
            "reps": reps, "measured_s": measured_s, "total_s": time.time() - T_START, "unit": wl.unit,
            "setup_phases_s": ctx.phases,
            "attempted": ops.attempted, "failed": ops.failed, "errors": ops.errors, "ops": ops.log,
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "detail": {k: v[0] for k, v in detail.items()},
        }
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            ev_dir = os.path.join(run_dir, "eventlog")
            harness.stop_session(spark)
            spark = None
            logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
            jobs = trace.fold_jobs(trace.read_event_log(logs[0]))
            records = trace.attribute(tracer.spans, jobs)
            metrics = layer_metrics(wl, list(records.values()), session_s)
            with open(os.path.join(out_dir, f"{tag}-layers.json"), "w") as f:
                json.dump(list(records.values()), f, indent=0)
            manifest["per_layer"] = {k: v[0] for k, v in metrics.items()}
            manifest["tracing_overhead"] = _overhead(out_dir, args, {**manifest["end_to_end"], **manifest["detail"]})
        else:
            metrics = e2e
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        for err in ops.errors:
            print(f"error: {err}")
        for k, (v, unit) in {**e2e, **detail}.items():
            print(f"metric {k} {v:.6g} {unit}")
        if args.trace:
            for k, v in manifest["tracing_overhead"].items():
                print(f"overhead {k} {v}")
        print("setup phases: " + ", ".join(f"{k} {v:.2f}s" for k, v in ctx.phases.items()))
        print(json.dumps({
            "correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _why(workload: str) -> str:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return next(w["why"] for w in json.load(f)["workloads"] if w["name"] == workload)
    except (OSError, StopIteration, KeyError, ValueError):
        return ""


def _overhead(out_dir: str, args, traced: dict) -> dict:
    """Traced minus untraced for the end-to-end metrics plus wall and RSS,
    against the untraced record of the same workload and seed in
    ``out_dir`` (run ``--trace 0`` first)."""
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        return {"note": "no untraced record for this workload and seed; run --trace 0 first"}
    with open(path) as f:
        d = json.load(f)
    base = {**d["end_to_end"], **d["detail"]}
    keys = ("setup_s", "unit_cpu_s", "unit_wall_s", "peak_rss_mb")
    return {k: traced[k] - base[k] for k in keys if k in traced and k in base}


if __name__ == "__main__":
    sys.exit(main())
