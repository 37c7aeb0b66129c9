"""Shared machinery for the benchmark workloads.

Everything here sits outside the program: the workloads call the public
functions of ``finance_etl_system_spark`` and this module times them,
counts what they did (Spark jobs/tasks, GC time, files written) and
assembles the one-line result the benchmark prints.

Nothing is measured by hooks inside the program. A traced run
(``--trace 1``) wraps each public call in a :class:`Tracer` span and
collects counters between ops; an untraced run keeps only the op clock.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.getcwd()
STATE_DIR = os.path.join(ROOT, ".perfbench")


def process_age_s() -> float:
    """Seconds since this process was exec'd (kernel start time), so
    set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 (starttime), 0-based after comm
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def cpu_steal_ticks() -> int:
    """Host-wide stolen CPU ticks (/proc/stat), a drift diagnostic."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (``statistics``, 'inclusive')."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(q) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class WorkDir:
    """The run's scratch space under ``.perfbench/work``: wiped when the
    run starts and again when it ends, so no run sees another's files."""

    def __init__(self, workload: str):
        self.path = os.path.join(STATE_DIR, "work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_environment(work: WorkDir) -> None:
    """Environment for the JVM this process is about to launch.

    Driver heap is sized for a shared host with a fixed ``-Xms`` (the
    program's default is 16g); local dirs, JVM temp files and the
    warehouse (via the working directory) stay inside the run's work
    dir. Python workers import the program from the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.chdir(work.path)


class Tracer:
    """In-memory spans (name, start, end, parent, op id).

    Disabled, :meth:`span` costs one attribute test. Spans are written
    to disk only by :meth:`dump`, after the workload has finished."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str, *, timed_only: bool = True) -> list[float]:
        return [
            s[2] - s[1]
            for s in self.spans
            if s[0] == name and s[2] is not None
            and (not timed_only or (s[4] is not None and s[4] >= 0))
        ]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: total duration, total self time (duration
        minus the time its child spans cover) and count."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child_time[s[3]] += s[2] - s[1]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s[2] is None:
                continue
            d = out.setdefault(s[0], {"total_s": 0.0, "self_s": 0.0, "count": 0})
            d["total_s"] += s[2] - s[1]
            d["self_s"] += s[2] - s[1] - child_time[i]
            d["count"] += 1
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start": a, "end": b, "parent": p, "op": o}
                        for n, a, b, p, o in self.spans
                    ],
                    "self_time": self.self_times(),
                    **extra,
                },
                fh,
            )


class SparkCounters:
    """Jobs, tasks and GC time attributed to one op, read from outside
    the program: the op runs under its own job group (a streaming
    query's jobs run under its runId group) and GC time comes from the
    JVM's collector MXBeans over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._beans = (
            self.sc._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._beans))

    def jobs_and_tasks(self, groups: list[str]) -> tuple[int, int]:
        jobs = tasks = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
        return jobs, tasks


def cpu_canary_s(spark) -> float:
    """Fixed-size, IO-free shuffle+aggregate (the shape of bench.py's
    canary, smaller): a host-drift diagnostic reported next to the
    metrics, never used to normalise them."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 500_000, 1, 8)
        .select(
            (F.col("id") % 9973).alias("k"),
            ((F.col("id") * 2654435761) % 104729).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v"), F.avg("v"), F.count(F.lit(1)))
        .count()
    )
    return time.perf_counter() - t0


def dir_snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``roots``."""
    snap = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.startswith(".") and f.endswith(".crc"):
                    continue
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two snapshots."""
    files = nbytes = 0
    for p, (size, mtime) in after.items():
        if before.get(p) != (size, mtime):
            files += 1
            nbytes += size
    return files, nbytes


class Run:
    """Op clock and failure accounting for one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.latencies: list[float] = []
        self.op_kinds: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failed_ops: set = set()
        self.failures: list[str] = []
        self.correct = True
        self.detail: dict = {}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.loop_s = 0.0
        self.steal0 = cpu_steal_ticks()
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase mark (run
        budget diagnostics in the detail line)."""
        now = time.perf_counter()
        self.detail.setdefault("phases_s", {})[name] = round(now - self._mark, 3)
        self._mark = now

    def more(self, done: int, *, min_ops: int, round_ops: int, loop0: float) -> bool:
        """Whether to start op number ``done``: at least ``min_ops``,
        then whole rounds of ``round_ops`` while the loop is younger than
        ``seconds``."""
        if done < min_ops or done % round_ops:
            return True
        return time.perf_counter() - loop0 < self.seconds

    def fail(self, op, why: str) -> None:
        """Charge attempted op ``op`` as failed; an op counts once however
        many of its checks fail."""
        if op not in self.failed_ops:
            self.failed_ops.add(op)
            self.failed += 1
        self.failures.append(why)

    def incorrect(self, why: str) -> None:
        """Wrong output of untimed work that is no attempted op (build,
        warm-up): the run is not correct, ``failed`` is unchanged."""
        self.correct = False
        self.failures.append(why)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def start_spark(run: Run):
    """Launch the program's session and run a trivial job; returns the
    session. ``setup_s`` spans process start to here."""
    from finance_etl_system_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{run.workload}")
    t1 = time.perf_counter()
    spark.range(0, 1000, 1, 4).count()
    t2 = time.perf_counter()
    run.metric("setup_s", process_age_s(), "s")
    run.detail["setup_parts_s"] = {
        "before_get_spark": round(process_age_s() - (t2 - t0), 3),
        "get_spark": round(t1 - t0, 3),
        "first_job": round(t2 - t1, 3),
    }
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def finish(run: Run, spark, per_layer: dict[str, tuple[float, str]]) -> dict:
    """Assemble the result object; end-to-end metrics untraced,
    per-layer metrics traced."""
    lat = run.latencies
    run.metric("op_p50_s", median(lat), "s")
    run.metric("ops_per_s", (len(lat) / run.loop_s) if run.loop_s else 0.0, "1/s")
    rss = {
        "driver": vm_hwm_mb(os.getpid()),
        "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
    }
    run.metric("peak_rss_mb", rss["driver"] + rss["jvm"], "MiB")
    run.detail["peak_rss_parts_mb"] = {k: round(v, 1) for k, v in rss.items()}
    run.detail.update(
        {
            "workload": run.workload,
            "seed": run.seed,
            "timed_ops": len(lat),
            "op_p90_s": round(percentile(lat, 90), 4) if len(lat) >= 100 else None,
            "op_fail_ratio": run.failed / run.attempted if run.attempted else 0.0,
            "failures": run.failures[:10],
            "loop_s": round(run.loop_s, 3),
            "cpu_steal_s": round(
                (cpu_steal_ticks() - run.steal0) / os.sysconf("SC_CLK_TCK"), 2
            ),
            "op_kinds": run.op_kinds,
            "op_latencies_s": [round(x, 4) for x in lat],
        }
    )
    metrics = per_layer if run.tracer.enabled else run.metrics
    return {
        "correct": bool(run.correct),
        "attempted": int(max(run.attempted, 1)),
        "failed": int(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def results_path(workload: str, seed: int, trace: bool) -> str:
    return os.path.join(
        STATE_DIR, "results", f"{workload}-s{seed}-t{int(trace)}.json"
    )


def untraced_op_p50(workload: str, seed: int) -> float | None:
    """op_p50_s of the untraced run with this seed — the base of the
    tracing overhead — or None when there is none."""
    path = results_path(workload, seed, False)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["metrics"]["op_p50_s"]["value"] or None
