"""Event-log folding and span attribution on a small canned log."""

from perfbench import trace


def _job_start(jid, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run=10, cpu_ns=4_000_000, gc=1, sr=(0, 0), sw=0, spill=(0, 0), out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
        "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
        "Shuffle Read Metrics": {"Remote Bytes Read": sr[0], "Local Bytes Read": sr[1]},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        "Output Metrics": {"Bytes Written": out}, "Input Metrics": {"Bytes Read": 5}}}


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


CANNED = [
    # span-0: two jobs; job 0 has stages 0 (2 tasks) and 1 (1 task); job 1
    # re-lists stage 1 (skipped) and runs stage 2
    _job_start(0, 1_000_000, [0, 1], "span-0"),
    _task(0, sw=100), _task(0, sw=50, spill=(7, 3)), _stage_done(0),
    _task(1, sr=(30, 120), out=999), _stage_done(1),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_400},
    _job_start(1, 1_000_300, [1, 2], "span-0"),
    _task(2, run=20, cpu_ns=6_000_000, gc=4), _stage_done(2),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_000_600},
    # a job from another thread (no group), inside span-1
    _job_start(2, 1_002_100, [3]),
    _task(3), _stage_done(3),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_002_200},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 1_003_000},
]


def test_fold_jobs_counts_and_sums():
    jobs = trace.fold_jobs(CANNED)
    assert set(jobs) == {0, 1, 2}
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert (j0["group"], j1["group"], j2["group"]) == ("span-0", "span-0", "")
    assert (j0["stages"], j0["tasks"]) == (2, 3)
    assert (j1["stages"], j1["tasks"]) == (1, 1)  # stage 1 counts for job 0 only
    assert j0["executor_run_ms"] == 30 and j0["executor_cpu_ms"] == 12.0 and j0["gc_ms"] == 3
    assert j0["shuffle_write_bytes"] == 150 and j0["shuffle_read_bytes"] == 150
    assert j0["spill_bytes"] == 10 and j0["bytes_written"] == 999 and j0["input_bytes"] == 15
    assert j1["executor_cpu_ms"] == 6.0 and j1["gc_ms"] == 4
    assert (j0["submit"], j0["end"]) == (1000.0, 1000.4)


def test_attribute_driver_time_is_wall_minus_union_of_job_spans():
    spans = [
        trace.Span(0, "q", "query", "r1", None, start=999.9, end=1001.0),
        trace.Span(1, "plans.build", "plans", "r1", 0, start=999.9, end=1000.0),
        trace.Span(2, "stream", "snapshots", "r2", None, start=1002.0, end=1002.5),
    ]
    rec = trace.attribute(spans, trace.fold_jobs(CANNED))
    q, build, stream = rec[0], rec[1], rec[2]
    assert (q["jobs"], q["stages"], q["tasks"]) == (2, 3, 4)
    # wall 1.1 s; jobs cover [1000.0, 1000.4] U [1000.3, 1000.6] = 0.6 s
    assert abs(q["wall_ms"] - 1100.0) < 1e-6
    assert abs(q["driver_ms"] - 500.0) < 1e-6
    # self time: wall minus the child span (0.1 s)
    assert abs(q["self_ms"] - 1000.0) < 1e-6
    assert build["jobs"] == 0 and abs(build["driver_ms"] - 100.0) < 1e-6
    # the ungrouped job is attributed by time to the span open at its submission
    assert (stream["jobs"], stream["tasks"]) == (1, 1)
    assert abs(stream["driver_ms"] - 400.0) < 1e-6


def test_union_length_merges_and_clips():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert trace.union_length([], 0, 1) == 0.0
