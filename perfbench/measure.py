"""Measurement helpers: latency summaries, peak RSS, host record, tracing.

Layers are measured from outside the program: the tracer times the calls
the benchmark makes into each module, counts py4j round-trips by wrapping
the gateway client's ``send_command``, and attributes Spark jobs to a span
through a per-span job group read back with ``statusTracker``.
"""

from __future__ import annotations

import math
import os
import platform
import threading
import time
from contextlib import contextmanager

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[_rank(p, len(sorted_vals)) - 1]


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` for the highest percentile of ``TAIL_LADDER``
    with at least ``MIN_BEYOND`` samples above its nearest rank. With fewer
    than ``2 * MIN_BEYOND`` samples no percentile qualifies and the median
    is returned with its percentile, 50."""
    vals = sorted(values)
    n = len(vals)
    best = 50.0
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best, percentile(vals, best)


# --------------------------------------------------------------------------
# memory


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Polls the peak resident set (VmHWM) of a process tree: the driver JVM
    and the Python workers it forks. The result is the sum of each
    process's own peak."""

    def __init__(self, root_pid: int, interval_s: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in descendants(self.root_pid):
            self.peaks[pid] = max(self.peaks.get(pid, 0), _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return sum(self.peaks.values()) / 1024.0


# --------------------------------------------------------------------------
# host record


def cpu_ticks() -> tuple[int, int]:
    """``(all, steal)`` CPU ticks of the host since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def host_record(spark, seed: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "loadavg_1m": os.getloadavg()[0],
        "machine": platform.machine(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "master": spark.sparkContext.master,
    }


# --------------------------------------------------------------------------
# tracing


class Tracer:
    """Spans and counters at the benchmark's calls into each layer.

    A span records name, start, end, parent span and operation id, the
    py4j calls made while it was open and its job group; spans stay in
    memory until the run ends. A disabled tracer records nothing and
    touches neither the gateway nor the job group; an enabled one records
    spans only while ``active``, so a traced run can interleave traced and
    untraced operations and report the difference as tracing overhead.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.active = False  # spans are recorded only while active
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j_calls = 0
        self._paused = 0
        self.sc = spark.sparkContext
        if enabled:
            client = self.sc._gateway._gateway_client
            inner = client.send_command

            def counted(*args, **kwargs):
                if not self._paused:
                    self.py4j_calls += 1
                return inner(*args, **kwargs)

            client.send_command = counted
            self._client, self._inner = client, inner

    def close(self) -> None:
        if self.enabled:
            self._client.send_command = self._inner

    @contextmanager
    def quiet(self):
        """Run the tracer's own gateway calls without counting them."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def _set_group(self, group: str | None) -> None:
        with self.quiet():
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, op: int):
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"perfbench-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        calls0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - calls0
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)

    def jobs(self, span: dict) -> list[int]:
        """Spark jobs launched while ``span`` itself was the innermost."""
        with self.quiet():
            return list(self.sc.statusTracker().getJobIdsForGroup(span["group"]))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        out = []
        with self.quiet():
            st = self.sc.statusTracker()
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    out.extend(info.stageIds)
        return out

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def self_value(spans: list[dict], span: dict, key: str) -> float:
    """``span[key]`` minus what its direct children account for."""
    kids = [s for s in spans if s["parent"] == span["id"]]
    if key == "dur":
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)
    return span[key] - sum(k[key] for k in kids)


def dur(span: dict) -> float:
    return span["end"] - span["start"]
