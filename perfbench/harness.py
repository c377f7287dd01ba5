"""Run plumbing shared by the workloads: the benchmark's own Spark
session, op bookkeeping (attempted / failed with error text), output
checks, directory accounting and peak RSS."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
import traceback
from collections import defaultdict

from . import trace


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def make_session(run_dir: str, traced: bool):
    """The engine's pinned config (``session.session_config``) plus the
    benchmark's settings: no console progress bars, scratch and
    warehouse dirs inside the run dir, and — traced runs only — one
    uncompressed, non-rolling event log. ``session.get_spark`` returns
    this same session afterwards."""
    from pyspark.sql import SparkSession

    from mlb_data_pipeline_spark.session import default_parallelism, session_config

    tmp = os.environ["SPARK_LOCAL_DIRS"]
    conf = session_config()
    conf.update({
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp}",
    })
    if traced:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + ev,
        })
    b = SparkSession.builder.master(f"local[{default_parallelism()}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM, MiB."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant — the JVM and its Python workers — plus descendants
    already reaped."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    me = os.getpid()
    tree, frontier = {me}, [me]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _t) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def dir_bytes(*paths: str) -> int:
    return sum(sum(dir_files(p).values()) for p in paths if os.path.exists(p))


def restore(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


# --- output checks -------------------------------------------------------------

class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _canon(v):
    import datetime as dt

    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def rows_hash(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result with columns
    aligned by name — equal iff the two engines returned the same
    multiset of rows, bit-exact."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(lines), h.hexdigest()


# --- op bookkeeping -------------------------------------------------------------

class Ops:
    """Closed-loop op recorder. ``run`` times ``fn`` (which must perform
    its Spark action), then checks its output untimed. An op that raises
    or fails its check counts as failed, with its error text kept; the
    workload carries on. ``checks=False`` (the warm-up pass) skips the
    output checks but still counts an op that raises."""

    def __init__(self, tracer: trace.Tracer, checks: bool = True):
        self.tracer = tracer
        self.checks = checks
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_span = None
        self.log: list[tuple[str, float]] = []  # (op name, wall) of every op that passed
        self.busy_s = 0.0  # wall time inside ops, failed ones included
        self.cpu_s = 0.0  # process-tree CPU time inside ops

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def run(self, kind: str, layer: str, fn, check_fn=None, name: str | None = None):
        self.attempted += 1
        try:
            with self.tracer.span(name or kind, layer, f"r{self.attempted}") as self.last_span:
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                try:
                    out = fn()
                finally:
                    wall = time.perf_counter() - t0
                    self.busy_s += wall
                    self.cpu_s += tree_cpu_s() - c0
            if check_fn is not None and self.checks:
                check_fn(out)
        except Exception as e:  # noqa: BLE001 — every failure is recorded, none hidden
            self.failed += 1
            self.errors.append(f"{name or kind}: {type(e).__name__}: {e}".replace("\n", " ")[:500])
            traceback.print_exc()
            return None
        self.walls[kind].append(wall)
        self.log.append((name or kind, wall))
        return out
