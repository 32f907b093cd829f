"""Session set-up, span tracing, Spark status-store counts, the CPU clock
and peak RSS.

Everything here observes the program from outside: spans are recorded around
calls into the program's public functions, and counts (jobs, stages, tasks,
executor CPU, shuffle bytes) are read after the fact from Spark's status
store under job groups this module sets.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import statistics
import subprocess
import threading
import time

SHUFFLE_PARTITIONS = 4


def start_spark(work: str):
    """local[k] session, k = min(4, nproc), fixed shuffle width.

    Temporary and block-manager files go under ``work``. The status store
    keeps every job and stage of the run so counts by job-id range are exact.
    """
    from dice_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    k = min(4, os.cpu_count() or 1)
    spark = get_spark(
        "perfbench",
        master=f"local[{k}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.driver.memory": "3g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it has exited
    (its Python workers are stopped with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def release_cached(spark) -> None:
    """Drop every persisted / locally checkpointed RDD block of the session,
    then collect garbage in the driver JVM and here, so each repetition starts
    from the same heap state."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()


class JobCounter:
    """Job ids come from one monotonically increasing counter, so the jobs a
    region ran are exactly the ids between its start and end marks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def mark(self) -> int:
        """Id of the last job submitted so far (-1 before the first)."""
        return self.sc._jsc.sc().dagScheduler().numTotalJobs() - 1

    def jobs(self) -> dict[int, dict]:
        """job id -> {group, stages}; read once at the end of a run."""
        out = {}
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            stages = j.stageIds()
            out[j.jobId()] = {
                "group": g.get() if g.isDefined() else None,
                "stages": [stages.apply(i) for i in range(stages.size())],
            }
        return out

    def stages(self) -> dict[int, dict]:
        """stage id -> task / CPU / shuffle counts (all attempts summed)."""
        jvm = self.sc._jvm
        out: dict[int, dict] = {}
        lst = self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            d = out.setdefault(
                s.stageId(), {"tasks": 0, "executor_cpu_ns": 0, "shuffle_write_bytes": 0}
            )
            d["tasks"] += s.numTasks()
            d["executor_cpu_ns"] += s.executorCpuTime()
            d["shuffle_write_bytes"] += s.shuffleWriteBytes()
        return out


class Tracer:
    """Spans kept in memory; each sets a job group named after its layer.

    A span records name, start, end (seconds since the run started), its
    parent span, the request (trace) it belongs to, the job-id range it
    covered and any counts attached to it. ``enabled=False`` turns ``span``
    into a no-op so untraced runs pay nothing.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.jobs = JobCounter(spark)
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = None

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield counts
            return
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "trace": self.trace_id,
            "counts": counts,
            "job_lo": self.jobs.mark(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter() - self.t0
            rec["job_hi"] = self.jobs.mark()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, prev_desc)

    def attach_jobs(self) -> None:
        """Add each span's own jobs (its group, inside its id range) and their
        stage counts. Call once, after the measured work."""
        if not self.spans:
            return
        jobs, stages = self.jobs.jobs(), self.jobs.stages()
        for rec in self.spans:
            own = [
                j for j, info in jobs.items()
                if rec["job_lo"] < j <= rec["job_hi"] and info["group"] == rec["name"]
            ]
            rec.update(_aggregate(own, jobs, stages))

    def current(self) -> dict:
        """Counts of the innermost open span (a throwaway dict when none)."""
        return self._stack[-1]["counts"] if self._stack else {}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _aggregate(job_ids: list[int], jobs: dict, stages: dict) -> dict:
    sids = {s for j in job_ids for s in jobs[j]["stages"] if s in stages}
    return {
        "jobs": len(job_ids),
        "stages": len(sids),
        "tasks": sum(stages[s]["tasks"] for s in sids),
        "executor_cpu_s": sum(stages[s]["executor_cpu_ns"] for s in sids) / 1e9,
        "shuffle_write_mb": sum(stages[s]["shuffle_write_bytes"] for s in sids) / 2**20,
    }


def job_region_counts(tracer: Tracer, lo: int, hi: int) -> dict:
    """Jobs / stages / tasks / CPU / shuffle of every job with id in (lo, hi]."""
    jobs, stages = tracer.jobs.jobs(), tracer.jobs.stages()
    return _aggregate([j for j in jobs if lo < j <= hi], jobs, stages)


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class CpuClock:
    """CPU seconds (user + system, reaped children included) used so far by
    this process, the driver JVM and every process under the JVM (the Python
    workers), less the JVM's JIT compiler threads. Unlike wall time it does
    not grow while the host runs other work, so it stays comparable on a
    shared machine; compiler threads are left out because how far the JIT
    has got is a property of the session's age, not of the program."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    @staticmethod
    def _ticks(stat_path: str) -> int:
        try:
            with open(stat_path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0
        return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime

    def _jit_ticks(self) -> int:
        base = f"/proc/{self.jvm_pid}/task"
        total = 0
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
            except OSError:
                continue
            total += self._ticks(f"{base}/{tid}/stat")
        return total

    def read(self) -> float:
        pids = [os.getpid()] + process_tree(self.jvm_pid)
        ticks = sum(self._ticks(f"/proc/{p}/stat") for p in pids) - self._jit_ticks()
        return ticks / self.TICK


class PeakRss:
    """Samples the summed RSS of this process, the driver JVM and every
    process under the JVM (the Python workers) until stopped."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = [os.getpid()] + process_tree(self.jvm_pid)
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def highest_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile p with at least ten samples above it, and
    its value (nearest rank). None when fewer than 11 samples exist."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil(p*n/100), 1-based nearest rank
        if n - rank >= 10:
            return p, s[rank - 1]
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)
