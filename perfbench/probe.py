"""Measurement from outside the program: spans, Spark status-store windows,
py4j round trips, streaming progress and peak memory.

Nothing here changes the program. Spans wrap the benchmark's own calls into
the package; counters read Spark's AppStatusStore around those calls.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id.

    A disabled tracer records nothing, so untraced runs pay one no-op
    context manager per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def finish(self) -> list[dict]:
        """Spans with ``self_s`` filled in, start/end relative to the first."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self_times(self.spans)
        return [
            {
                **s,
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "self_s": selfs[s["id"]],
            }
            for s in self.spans
        ]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length covered by the union of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover.

    Children may overlap each other (work on other threads) or spill past
    the parent's end; only the union of their intervals, clipped to the
    parent, is subtracted."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in children.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - union_length(clipped)
    return out


class StatusStore:
    """Jobs and stages from Spark's AppStatusStore, one JSON round trip each.

    Calls run one at a time, so "every job and stage with an id above the
    snapshot" is exactly the work of the call in between, including
    streaming micro-batch jobs started on other threads."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(self._empty)))

    def stages(self) -> list[dict]:
        it = self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        return json.loads(self._mapper.writeValueAsString(it))

    def high_water(self) -> tuple[int, int]:
        return (
            max((j["jobId"] for j in self.jobs()), default=-1),
            max((s["stageId"] for s in self.stages()), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> tuple[list[dict], list[dict]] | None:
        """Jobs and stages newer than ``mark``, or None when the store has
        evicted any of them (undercounting would look like a speed-up)."""
        max_job, max_stage = mark
        jobs, stages = self.jobs(), self.stages()
        if jobs and min(j["jobId"] for j in jobs) > max_job + 1:
            return None
        if stages and min(s["stageId"] for s in stages) > max_stage + 1:
            return None
        return (
            [j for j in jobs if j["jobId"] > max_job],
            [s for s in stages if s["stageId"] > max_stage],
        )


def stage_totals(jobs: list[dict], stages: list[dict], wall_s: float, cores: int) -> dict:
    """Counters summed over a window's stages. Times in seconds."""
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in stages if s["status"] != "SKIPPED"),
        "tasks": sum(s["numTasks"] for s in stages if s["status"] != "SKIPPED"),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
        ),
        "peak_exec_mem_bytes": max((s["peakExecutionMemory"] for s in stages), default=0),
        "bytes_written": sum(s["outputBytes"] for s in stages),
    }


def job_wall_s(jobs: list[dict]) -> float:
    """Wall time covered by the union of the jobs' run intervals."""
    return union_length(
        [
            (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ]
    )


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``; every JavaObject shares that client. Round trips made
    by the probe itself run under ``paused()`` and are not counted."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._paused = False
        original = self._client.send_command

        def counted(*args, **kwargs):
            if not self._paused:
                self.calls += 1
            return original(*args, **kwargs)

        self._original = original
        self._client.send_command = counted

    @contextmanager
    def paused(self):
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def close(self) -> None:
        self._client.send_command = self._original


class Probe:
    """Spans plus, when tracing, a status-store window and a py4j count for
    every call. Untraced, ``call`` records nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.tracer = Tracer(run_id, enabled)
        self.cores = spark.sparkContext.defaultParallelism
        self.overhead_s = 0.0
        self.jvm_pid = jvm_pid(spark)
        if enabled:
            self.py4j = Py4jCounter(spark)
            with self.py4j.paused():
                self.store = StatusStore(spark)
                self.listener = make_stream_listener()
                spark.streams.addListener(self.listener)
            self._terminated_seen = 0

    def cpu(self) -> tuple[float, float]:
        """CPU seconds so far: (process tree without the JIT compiler
        threads, JIT compiler threads). Compiling is JVM warm-up that goes
        on for minutes, and how much of it lands in an operation depends on
        timing; the rest of the work repeats."""
        jit = jit_cpu_s(self.jvm_pid)
        return tree_cpu_s() - jit, jit

    @contextmanager
    def _own(self):
        """Probe work: py4j round trips not counted, time kept as overhead."""
        t0 = time.perf_counter()
        with self.py4j.paused():
            yield
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def call(self, name: str, window: bool = True):
        if not self.enabled:
            yield None
            return
        with self._own():
            mark = self.store.high_water() if window else None
        calls0 = self.py4j.calls
        try:
            with self.tracer.span(name) as rec:
                yield rec
        finally:
            rec["py4j_calls"] = self.py4j.calls - calls0
            if window:
                with self._own():
                    got = self.store.since(mark)
                rec["evicted"] = got is None
                rec["jobs"], rec["stages"] = got if got else ([], [])

    def take_stream_progress(self, timeout_s: float = 10.0) -> dict:
        """Progress summed since the last take, once the listener bus has
        delivered the query's termination (progress events precede it)."""
        lst = self.listener
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with lst.lock:
                if lst.terminated > self._terminated_seen:
                    break
            time.sleep(0.02)
        with lst.lock:
            self._terminated_seen = lst.terminated
            got = dict(lst.progress)
            lst.reset()
        return got

    def close(self, spark) -> None:
        if self.enabled:
            spark.streams.removeListener(self.listener)
            self.py4j.close()


def make_stream_listener():
    """A StreamingQueryListener that sums micro-batch progress: batches,
    addBatch ms, state-store commit ms and the last state row count."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.terminated = 0
            self.reset()

        def reset(self):
            self.progress = {"batches": 0, "add_batch_ms": 0, "commit_ms": 0, "state_rows": 0}

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            with self.lock:
                rec = self.progress
                rec["batches"] += 1
                rec["add_batch_ms"] += p.durationMs.get("addBatch", 0)
                rec["commit_ms"] += sum(o.commitTimeMs for o in ops)
                rec["state_rows"] = sum(o.numRowsTotal for o in ops)

    return Listener()


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) spent so far by process ``root`` (this
    one by default) and every descendant: the Spark JVM and its Python
    workers. Reaped children count through their parent's ``cutime``, live
    ones through their own ``utime``, so none counts twice."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total = 0
    for pid, n in ticks.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += n
    return total * _TICK_S


def jit_cpu_s(pid: int) -> float:
    """CPU seconds spent so far by JVM ``pid``'s JIT compiler threads. The
    JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads``: a compiler
    thread that exits takes its time with it."""
    ticks = 0
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as fh:
                comm, rest = fh.read().rsplit(")", 1)
        except OSError:  # exited while listing
            continue
        if "CompilerThre" in comm:
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks * _TICK_S


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """(JVM ``VmHWM``, this Python process's max RSS), in MB."""
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(
            int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
        )
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return hwm_kb / 1024.0, py_kb / 1024.0
