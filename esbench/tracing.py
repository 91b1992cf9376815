"""Session start, host record and the per-layer tracer.

The tracer wraps the benchmark's own calls into the engine's modules.  With
tracing off every wrapper is a plain call.  With tracing on, each wrapper
records a span and, for calls that run Spark jobs, reads Spark's own
counters for exactly those jobs through a per-call job group:

- ``statusTracker`` for the jobs and stages of the group;
- the ``AppStatusStore`` stage data for bytes, records, run time, spill and
  peak execution memory, and each stage's submission and completion time;
- ``queryExecution().tracker().phases()`` for analysis, optimization and
  planning time of a collected DataFrame.

All three work with the Spark UI disabled.
"""

from __future__ import annotations

import contextlib
import os
import platform
import subprocess
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_PHASES = ("analysis", "optimization", "planning")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str):
    """Start the engine's own session factory on ``local[<cores>]`` with
    one shuffle partition per core, every scratch directory inside
    ``work_dir`` and the console progress bar off."""
    from elasticsearch_hadoop_spark.session import get_spark

    cores = host_cores()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # python workers and the JVM inherit the process environment
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="esbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # a fixed-size heap (-Xms = driver memory): left to resize it,
            # G1 made peak RSS swing by a fifth between identical runs
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def sentinel_ms(spark, reps: int = 5) -> float:
    """Median time of a fixed pure-JVM computation (BigInteger powers and
    products): no Spark scheduling, no I/O, so it moves only when the host
    itself is slower."""
    big = spark.sparkContext._jvm.java.math.BigInteger
    times = []
    for _ in range(reps + 2):  # the first two only warm up the JIT
        t0 = time.perf_counter()
        x = big.valueOf(7).pow(150_000)
        x.multiply(x).multiply(x).bitLength()
        times.append((time.perf_counter() - t0) * 1000.0)
    times = sorted(times[2:])
    return times[len(times) // 2]


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this Python client."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def host_record(spark) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": host_cores(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory": conf.get("spark.driver.memory", ""),
        "loadavg": list(os.getloadavg()),
    }


def _union_ms(intervals: list[tuple[float, float]]) -> tuple[float, float]:
    """(total covered length, latest end) of a set of intervals."""
    total, cur_s, cur_e, last = 0.0, None, None, 0.0
    for s, e in sorted(intervals):
        if e <= s:
            continue
        last = max(last, e)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total, last


class Tracer:
    """Spans and Spark counters around calls into the engine's layers.

    ``layer`` names are this repository's modules (``search``, ``catalog``,
    ``operators`` ...) plus Spark's own stages of work (``catalyst``,
    ``scheduler``, ``scan``, ``shuffle``, ``exec``, ``collect``).  Values
    are summed within an operation; ``per_op`` keeps one dict per
    operation for the run's summary."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.cores = host_cores()
        self.spans: list[dict] = []
        self.per_op: list[tuple[str, dict]] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._seq = 0
        self.last_jobs = 0
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._store = sc._jsc.sc().statusStore()
            self._jvm = sc._jvm
            self._gw = sc._gateway

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_ms": time.time() * 1000.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    @contextlib.contextmanager
    def op(self, op_type: str):
        """One operation of a workload: the root span of its calls."""
        if not self.enabled:
            yield
            return
        self._op = defaultdict(float)
        with self.span("op", op_type=op_type):
            yield
        self.per_op.append((op_type, dict(self._op)))
        self._op = None

    def add(self, key: str, value: float) -> None:
        if self.enabled and self._op is not None:
            self._op[key] += value

    # ------------------------------------------------------------- calls
    def build(self, metric: str, fn, *args, **kwargs):
        """A Python-side call that returns a DataFrame without running it;
        its time goes to ``metric`` and to the operation's build total."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(metric) as rec:
            out = fn(*args, **kwargs)
        ms = rec["end_ms"] - rec["start_ms"]
        self.add(metric, ms)
        self.add("build_ms", ms)
        return out

    def collect(self, df, metric: str | None = None):
        """Collect ``df``; traced, split the action into Catalyst phases,
        stage wall time, scheduler gaps and the collect tail, and add the
        action's time to ``metric`` if one is given."""
        if not self.enabled:
            return df.collect()
        o0 = time.perf_counter()
        group = self._group()
        group_s = time.perf_counter() - o0  # counted as tracer overhead
        with self.span(metric or "collect") as rec:
            t0 = time.time() * 1000.0
            rows = df.collect()
            t1 = time.time() * 1000.0
        o0 = time.perf_counter() - group_s
        self._sc.setJobGroup("esbench-idle", "idle", False)
        if metric:
            self.add(metric, t1 - t0)
        phases = self._phases(df)
        stages = self._stage_metrics(group, rec)
        plan_iv = [(s, e) for name_, (d, s, e) in phases.items() if name_ != "analysis"]
        stage_iv = stages.pop("intervals")
        for p in _PHASES:
            self.add(f"catalyst.{p}_ms", phases.get(p, (0.0, 0, 0))[0])
        stage_wall, _ = _union_ms([(max(s, t0), min(e, t1)) for s, e in stage_iv])
        covered, last_end = _union_ms([(max(s, t0), min(e, t1)) for s, e in plan_iv + stage_iv])
        last_end = max(last_end, t0)
        tail = max(0.0, t1 - last_end)
        self.add("scheduler.stage_wall_ms", stage_wall)
        self.add("scheduler.gap_ms", max(0.0, (last_end - t0) - covered))
        self.add("collect.tail_ms", tail)
        self.add("collect.rows", len(rows))
        self._add_stage_counters(stages, t1 - t0)
        self.add("trace.overhead_ms", (time.perf_counter() - o0) * 1000.0)
        return rows

    def call(self, metric: str, fn, *args, **kwargs):
        """An engine call that runs its own Spark jobs (a catalog write, a
        sink save): its wall time goes to ``metric`` and the counters of
        the jobs it ran to the Spark layers.  ``last_jobs`` holds how many
        jobs it ran."""
        if not self.enabled:
            return fn(*args, **kwargs)
        o0 = time.perf_counter()
        group = self._group()
        group_s = time.perf_counter() - o0  # counted as tracer overhead
        with self.span(metric) as rec:
            t0 = time.time() * 1000.0
            out = fn(*args, **kwargs)
            t1 = time.time() * 1000.0
        o0 = time.perf_counter() - group_s
        self._sc.setJobGroup("esbench-idle", "idle", False)
        self.add(metric, t1 - t0)
        self.add("opaque_ms", t1 - t0)
        stages = self._stage_metrics(group, rec)
        stages.pop("intervals")
        self._add_stage_counters(stages, t1 - t0)
        self.last_jobs = stages["jobs"]
        self.add("trace.overhead_ms", (time.perf_counter() - o0) * 1000.0)
        return out

    # ------------------------------------------------------------- spark
    def _group(self) -> str:
        self._seq += 1
        group = f"esbench-{self._seq}"
        self._sc.setJobGroup(group, group, False)
        return group

    def _phases(self, df) -> dict[str, tuple[float, float, float]]:
        out = {}
        phases = df._jdf.queryExecution().tracker().phases()
        for p in _PHASES:
            o = phases.get(p)
            if o.isDefined():
                s = o.get()
                out[p] = (float(s.durationMs()), float(s.startTimeMs()), float(s.endTimeMs()))
        return out

    def _stage_metrics(self, group: str, rec: dict) -> dict:
        """Counters of every stage the group's jobs ran.  The status store
        is fed by an asynchronous listener, so wait (briefly) until each
        job reports an end state first."""
        tracker = self._sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        deadline = time.time() + 5.0
        while time.time() < deadline:
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.005)
        out = {k: 0.0 for k in (
            "jobs", "stages", "tasks", "input_bytes", "input_records", "shuffle_write",
            "shuffle_read", "run_ms", "spill", "peak_mem",
        )}
        out["intervals"] = []
        out["jobs"] = len(jobs)
        empty_status = self._jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else []):
                if sid in seen:
                    continue
                seen.add(sid)
                si = tracker.getStageInfo(sid)
                attempt = si.currentAttemptId if si is not None else 0
                try:
                    sd = self._store.stageAttempt(sid, attempt, False, empty_status, False, no_quantiles)._1()
                except Py4JJavaError:
                    continue  # evicted from the store, or never submitted
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["run_ms"] += sd.executorRunTime()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["peak_mem"] = max(out["peak_mem"], float(sd.peakExecutionMemory()))
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["intervals"].append(
                        (float(sub.get().getTime()), float(done.get().getTime()))
                    )
        rec["stages"] = out["stages"]
        return out

    def _add_stage_counters(self, st: dict, action_ms: float) -> None:
        self.add("scheduler.jobs", st["jobs"])
        self.add("scheduler.stages", st["stages"])
        self.add("scheduler.tasks", st["tasks"])
        self.add("scan.input_bytes", st["input_bytes"])
        self.add("scan.input_records", st["input_records"])
        self.add("shuffle.write_bytes", st["shuffle_write"])
        self.add("shuffle.read_bytes", st["shuffle_read"])
        self.add("exec.task_run_ms", st["run_ms"])
        self.add("exec.spill_bytes", st["spill"])
        self.add("busy_wall_ms", action_ms)
        if self._op is not None:
            key = "exec.peak_exec_memory_bytes"
            self._op[key] = max(self._op.get(key, 0.0), st["peak_mem"])
