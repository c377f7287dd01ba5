"""Per-layer metrics of a traced run, from the span records
(``trace.attribute``). Every metric is reported on every workload; a
layer that does no work on a workload reads 0 there.

Counts (jobs, stages, tasks, files, bytes, pairs, funnel rows) are means
per call over one repetition, so two traced runs with the same seed give
the same counts, except: ``snapshots.*.bytes_written`` moves by a byte or
two (commit records carry a wall-clock timestamp), and ``pretraining``
jobs/stages/shuffle bytes sometimes show one extra shuffle job (seen as
48 vs 49 jobs on one seed; not yet explained). Times are medians per call.
"""

from __future__ import annotations

import statistics

from .workloads import QUERIES, RAG_KINDS

COMMIT_KINDS = ("append", "merge", "dv_delete", "publish", "stream")
GATES = ("input", "quality", "exact_dedup", "neardup", "decontaminated", "mixed")
PRETRAINING = ("jobs", "stages", "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "driver_ms")
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "files_added": "count",
         "bytes_written": "bytes", "shuffle_bytes": "bytes", "shuffle_read_bytes": "bytes",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "write_amp": "ratio"}


def _unit(key: str) -> str:
    last = key.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    return UNITS.get(last, "count")


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, recs: list[dict], session_s: float) -> dict[str, tuple[float, str]]:
    def named(*names):
        return [r for r in recs if r["name"] in names]

    out: dict[str, float] = {"session.start_s": session_s}
    out["plans.build_ms"] = _median([r["wall_ms"] for r in named("plans.build")])
    q = named(*QUERIES)
    for c in ("jobs", "stages", "tasks", "executor_cpu_ms"):
        out[f"query.{c}"] = _mean([r[c] for r in q])
    out["query.driver_ms"] = _median([r["driver_ms"] for r in q])
    out["query.shuffle_bytes"] = _mean([r["shuffle_write_bytes"] for r in q])
    rag = named(*RAG_KINDS)
    out["rag.build_ms"] = _median([r["wall_ms"] for r in named("rag.build")])
    out["rag.jobs"] = _mean([r["jobs"] for r in rag])
    out["rag.driver_ms"] = _median([r["driver_ms"] for r in rag])
    out["rag.executor_cpu_ms"] = _mean([r["executor_cpu_ms"] for r in rag])
    daily = named("daily")
    out["daily.jobs"] = _mean([r["jobs"] for r in daily])
    out["daily.executor_cpu_ms"] = _mean([r["executor_cpu_ms"] for r in daily])
    out["daily.bytes_written"] = _mean([r.get("bytes_added", 0) for r in daily])
    out["daily.write_amp"] = _mean([r.get("bytes_added", 0) / r["input_bytes"] for r in daily if r.get("input_bytes")])
    for kind in COMMIT_KINDS:
        rs = [r for r in named(kind) if r["layer"] == "snapshots"]
        out[f"snapshots.{kind}.wall_ms"] = _median([r["wall_ms"] for r in rs])
        out[f"snapshots.{kind}.jobs"] = _mean([r["jobs"] for r in rs])
        out[f"snapshots.{kind}.bytes_written"] = _mean([r.get("bytes_added", 0) for r in rs])
        out[f"snapshots.{kind}.files_added"] = _mean([r.get("files_added", 0) for r in rs])
    plan = named("catalog.lake_scan")
    out["catalog.scan_plan_ms"] = _median([r["wall_ms"] for r in plan])
    out["catalog.files_read_frac"] = _mean([r["files_read_frac"] for r in plan if "files_read_frac" in r])
    reads = [r for r in recs if r["layer"] == "catalog" and r["name"].startswith(("scan_", "count_"))
             and r["name"] != "count_all"]
    out["scan.jobs"] = _mean([r["jobs"] for r in reads])
    out["scan.executor_cpu_ms"] = _mean([r["executor_cpu_ms"] for r in reads])
    funnels = wl.curation.funnels if hasattr(wl, "curation") else []
    for g in GATES:
        out[f"pretraining.funnel.{g}"] = _mean([f.get(g, 0) for f in funnels])
    pre = named("pretraining")
    for c in PRETRAINING:
        agg = _median if c == "driver_ms" else _mean
        out[f"pretraining.{c}"] = agg([r[c] for r in pre])
    cand = _mean([r["pairs"] for r in named("dedup.candidates")])
    ver = _mean([r["pairs"] for r in named("dedup.verified")])
    out["dedup.candidate_pairs"] = cand
    out["dedup.verified_pairs"] = ver
    out["dedup.pair_yield"] = ver / cand if cand else 0.0
    out["dedup.cc_ms"] = _median([r["wall_ms"] for r in named("dedup.cc")])
    units = {"session.start_s": "s", "dedup.pair_yield": "ratio", "catalog.files_read_frac": "ratio",
             **{f"pretraining.funnel.{g}": "rows" for g in GATES}}
    return {k: (float(v), units.get(k) or _unit(k)) for k, v in out.items()}
