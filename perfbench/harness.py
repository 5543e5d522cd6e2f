"""Session set-up, tracing and statistics shared by the workloads.

Tracing is done from outside the program: spans are recorded around
calls into the engine's public functions, each op runs under its own
Spark job group, and an uncompressed Spark event log gives the job
spans and task metrics that fall inside each op.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# set-ups per run.  Only the first launches the JVM and loads its
# classes, so setup_s is the median of the others and the first is
# reported on its own as first_setup_s.
SETUP_REPS = 3
# one warm pass per this many seconds of the time budget, at least one.
# The pass count is fixed by --seconds, not by how fast the program is,
# so every commit under test does the same work (the ingest table ends
# in the same state, and JIT warm-up is at the same point).
SECONDS_PER_WARM_PASS = 5


def warm_passes(seconds: float) -> int:
    return max(1, round(seconds / SECONDS_PER_WARM_PASS))


# ------------------------------------------------------------ statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); with fewer than 11 samples, the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 100
    if n <= 10:
        return xs[-1], 100
    # largest p such that at least 10 samples lie above index ceil(p*n)-1
    pct = math.floor(100 * (n - 10) / n)
    idx = max(0, math.ceil(pct / 100 * n) - 1)
    return xs[idx], pct


def end_to_end(tracer: "Tracer", passes: list) -> tuple[dict, dict]:
    """The figures every workload reports, as {name: (value, unit)},
    and the sample count of each.  Walls and the CPU seconds of the
    process tree (driver, JVM, Python workers) over the same spans, and
    the part of those spent in the JVM's JIT compiler threads; the first
    set-up is left out (see SETUP_REPS)."""
    setups = [s for s in tracer.spans if s.name == "setup"][1:]
    cold, warm = passes[0], passes[1:]
    metrics = {
        "setup_s": (median([s.dur for s in setups]), "s"),
        "setup_cpu_s": (median([s.attrs["cpu_s"] for s in setups]), "s"),
        "cold_pass_s": (cold.dur, "s"),
        "warm_pass_s": (mean([p.dur for p in warm]), "s"),
        "cold_pass_cpu_s": (cold.attrs["cpu_s"], "s"),
        "warm_pass_cpu_s": (mean([p.attrs["cpu_s"] for p in warm]), "s"),
        "cold_pass_jit_s": (cold.attrs["jit_s"], "s"),
        "warm_pass_jit_s": (mean([p.attrs["jit_s"] for p in warm]), "s"),
    }
    samples = {
        "setup_s": len(setups),
        "setup_cpu_s": len(setups),
        "cold_pass_s": 1,
        "cold_pass_cpu_s": 1,
        "warm_pass_s": len(warm),
        "warm_pass_cpu_s": len(warm),
        "cold_pass_jit_s": 1,
        "warm_pass_jit_s": len(warm),
    }
    return metrics, samples


# ------------------------------------------------------------ spans


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder.  Untraced runs record the same spans
    (the end-to-end metrics are read from them); what a traced run adds
    is the event log, per-call spans inside the pipeline, and the
    analysis after the loop."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """Record a span; with ``cpu``, also the CPU seconds the process
        tree used inside it (``attrs["cpu_s"]``) and the part of them in
        JIT compiler threads (``attrs["jit_s"]``)."""
        c0 = tree_cpu() if cpu else (0.0, 0.0)
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if cpu:
                c1 = tree_cpu()
                sp.attrs["cpu_s"] = c1[0] - c0[0]
                sp.attrs["jit_s"] = c1[1] - c0[1]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(sp: Span, tracer: Tracer) -> float:
    """Span duration minus the part its child spans cover."""
    return sp.dur - union_len((c.t0, c.t1) for c in tracer.children(sp))


# ------------------------------------------------------------ event log


@dataclass
class Job:
    id: int
    group: str | None
    t0: float
    t1: float
    stages: set = field(default_factory=set)
    m: dict = field(default_factory=dict)


_TASK_KEYS = ("task_s", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks")


def parse_event_log(log_dir: str, app_id: str) -> list[Job]:
    """Jobs of one application, with their task metrics summed."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and app_id in p and not p.endswith(".inprogress.crc")
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    mb = 1.0 / (1 << 20)
    for path in files:
        with open(path) as f:
            for line in f:
                if '"Event":"SparkListenerJob' not in line and '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3, math.inf)
                    j.m = dict.fromkeys(_TASK_KEYS, 0.0)
                    jobs[j.id] = j
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = j.id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    tm = ev.get("Task Metrics")
                    if j is None or not tm:
                        continue
                    j.stages.add(ev["Stage ID"])
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    j.m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                    j.m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    j.m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    j.m["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) * mb
                    j.m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) * mb
                    j.m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
                    j.m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) * mb
                    j.m["tasks"] += 1
    return [j for j in jobs.values() if math.isfinite(j.t1)]


def jobs_in(jobs: list[Job], sp: Span) -> list[Job]:
    """Jobs submitted inside a span (2 ms slack for clock rounding: the
    event log stamps milliseconds)."""
    return [j for j in jobs if sp.t0 - 0.002 <= j.t0 <= sp.t1 + 0.002]


def job_totals(jobs: list[Job]) -> dict:
    out = dict.fromkeys(_TASK_KEYS, 0.0)
    for j in jobs:
        for k in _TASK_KEYS:
            out[k] += j.m[k]
    out["jobs"] = len(jobs)
    out["stages"] = sum(len(j.stages) for j in jobs)
    return out


def driver_gap(sp: Span, jobs: list[Job]) -> float:
    """Span wall minus the union of the Spark job intervals inside it."""
    return sp.dur - union_len((max(j.t0, sp.t0), min(j.t1, sp.t1)) for j in jobs)


# ------------------------------------------------------------ memory


def _hwm_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM so input generation is not counted."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def _stat(path: str) -> tuple[str, int, int]:
    """(name, parent pid, CPU ticks of the process and its reaped
    children) from a /proc stat file."""
    with open(path) as f:
        s = f.read()
    fields = s[s.rindex(")") + 2 :].split()
    return s[s.index("(") + 1 : s.rindex(")")], int(fields[1]), sum(int(x) for x in fields[11:15])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of a JVM process."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for t in tids:
        try:
            name, _, ticks = _stat(f"/proc/{pid}/task/{t}/stat")
        except (OSError, ValueError, IndexError):
            continue  # thread ended while listing
        if "CompilerThre" in name:
            total += ticks
    return total


def tree_cpu() -> tuple[float, float]:
    """CPU seconds used so far by this process and every live process
    below it (the JVM and its Python workers), and the part of them
    spent in the JVM's JIT compiler threads; children that already
    ended are counted by the parent that reaped them."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _stat(f"/proc/{d}/stat")
            except (OSError, ValueError, IndexError):
                pass  # ended while listing
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, jit, stack = 0, 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        name, _, ticks = procs.get(pid, ("", 0, 0))
        total += ticks
        if name == "java":
            jit += _jit_ticks(pid)
        stack.extend(kids.get(pid, []))
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Python driver plus the JVM, from /proc."""
    kb = _hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(str(proc.pid))
    return kb / 1024.0


# ------------------------------------------------------------ session


@dataclass
class Env:
    """Per-run directories and settings, all under one temp dir."""

    tmp: str
    cpus: int
    trace: bool

    @property
    def data_dir(self) -> str:
        return os.path.join(self.tmp, "data")

    @property
    def layout_cache(self) -> str:
        return os.path.join(self.tmp, "layout")

    @property
    def event_dir(self) -> str:
        return os.path.join(self.tmp, "events")

    @property
    def tables_dir(self) -> str:
        return os.path.join(self.tmp, "tables")


def start_session(env: Env, *, event_log: bool):
    from airflow_embeddings_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(env.tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(env.tmp, "warehouse"),
        # keep the JVM's temp files in the run dir (no /tmp/hsperfdata);
        # keep JIT compiler threads alive so their CPU time stays readable
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env.tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if event_log:
        os.makedirs(env.event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + env.event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{env.cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity(batches):
    yield from batches


def warm_up(spark, cpus: int, *, python_workers: bool) -> None:
    """A generic warm-up action: one aggregate through codegen and the
    Arrow collect path, and through the Python worker pool when the
    workload's ops use it, so first-use costs of the session are not
    charged to whichever op happens to run first."""
    df = spark.range(0, 10_000, numPartitions=cpus).selectExpr("id", "id % 7 AS k").groupBy("k").count()
    if python_workers:
        df = df.mapInPandas(_identity, "k long, count long")
    df.toPandas()


def warm_spark_totals(jobs: list[Job], warm_passes: list[Span], cpus: int) -> dict:
    """Spark job metrics per warm pass (median over passes); jobs are
    attributed to the pass whose interval holds their submission."""
    per = []
    for ps in warm_passes:
        tot = job_totals(jobs_in(jobs, ps))
        tot["busy_frac"] = tot["task_s"] / (ps.dur * cpus) if ps.dur else 0.0
        per.append(tot)
    return {f"spark.{k}": median([p[k] for p in per]) for k in (*_TASK_KEYS, "jobs", "stages", "busy_frac")}


# ------------------------------------------------------------ per-layer

# Every per-layer metric with its unit; a workload that does not
# exercise a layer reports 0 for it.
LAYER_UNITS = {
    "registry.load_s": "s",
    "catalog.build_cold_s": "s",
    "catalog.build_warm_s": "s",
    "catalog.build_jobs": "count",
    "spark.plan_cold_s": "s",
    "spark.plan_warm_s": "s",
    "spark.exec_cold_s": "s",
    "spark.exec_warm_s": "s",
    "spark.first_exec_s": "s",
    "share.cold_fixed": "ratio",
    "share.warm_fixed": "ratio",
    "driver_gap_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.busy_frac": "ratio",
    "incremental.scan_plan_s": "s",
    "incremental.watermark_s": "s",
    "incremental.rows": "count",
    "incremental.self_s": "s",
    "merge.s": "s",
    "merge.files_total": "count",
    "merge.files_touched": "count",
    "merge.carried_frac": "ratio",
    "merge.bytes_rewritten_mb": "MB",
    "merge.bytes_carried_mb": "MB",
    "merge.rebased": "count",
    "merge.jobs": "count",
    "merge.driver_gap_s": "s",
    "share.merge_of_batch": "ratio",
    "versioned.meta_kb": "KB",
    "versioned.files_live": "count",
    "versioned.read_eq_s": "s",
    "cdc.sync_s": "s",
    "cdc.rows": "count",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "trace.cold_pass_s": "s",
    "trace.warm_pass_s": "s",
}


def layer_metrics(layers: dict) -> dict:
    """Every per-layer metric as {"value", "unit"}, zero where absent."""
    unknown = set(layers) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
