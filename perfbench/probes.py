"""Outside-in probes: process-tree RSS, Spark's status store, spans.

None of these reach into the program: RSS comes from /proc, stage
counters from the status store Spark keeps for its UI (populated even
with `spark.ui.enabled=false`), and spans are recorded by the benchmark
around its own calls into each layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time


def process_tree(root: int) -> list[int]:
    """`root` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Proportional set size of the tree: pages shared between forked
    Python workers are split between them, not counted once each."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(root: int, skip: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children's) used so far
    by `root` and its descendants, leaving out the process `skip`."""
    ticks = 0
    for pid in process_tree(root):
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the memory of this process tree (driver, JVM, Python
    workers) on a thread; `peak_mb` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=10)


class StageCounters:
    """Diffs of Spark's status store: counters of the stages that
    completed between two `take()` calls."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._gateway = sc._gateway
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper.registerModule(scala)
        self._seen: set[tuple[int, int]] = set()
        self.take()

    def _stages(self) -> list[dict]:
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        seq = self._store.stageList(None, False, False, quantiles, None)
        return json.loads(self._mapper.writeValueAsString(seq))

    def _task_run_ms(self, stage: dict) -> tuple[float, float]:
        """(median, max) task executor run time of a stage, in ms."""
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage["stageId"],
                                          stage["attemptId"], q)
        d = json.loads(self._mapper.writeValueAsString(summary))
        if not d:
            return 0.0, 0.0
        med, mx = d["executorRunTime"]
        return float(med), float(mx)

    def take(self) -> dict:
        """Counters summed over stages completed since the last call.
        `task_skew` is max/median task run time of the busiest stage."""
        new = [s for s in self._stages()
               if s["status"] in ("COMPLETE", "FAILED")
               and (s["stageId"], s["attemptId"]) not in self._seen]
        self._seen.update((s["stageId"], s["attemptId"]) for s in new)
        out = {
            "stages": len(new),
            "tasks": sum(s["numTasks"] for s in new),
            "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                              for s in new) / 1e6,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in new) / 1e6,
            "run_s": sum(s["executorRunTime"] for s in new) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in new) / 1e9,
            "task_skew": 1.0,
        }
        multi = [s for s in new if s["numTasks"] > 1]
        if multi:
            busiest = max(multi, key=lambda s: s["executorRunTime"])
            med, mx = self._task_run_ms(busiest)
            out["task_skew"] = mx / med if med > 0 else 1.0
        return out


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; each
    span also carries the stage-counter diff of its interval when a
    StageCounters is attached. Written out once, by `dump`."""

    def __init__(self, run_id: str, counters: StageCounters | None = None):
        self.run_id = run_id
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent inside the tracer itself (status-store reads)
        self.overhead_s = 0.0

    def _counters(self) -> dict | None:
        if self.counters is None:
            return None
        t = time.monotonic()
        c = self.counters.take()
        self.overhead_s += time.monotonic() - t
        return c

    @contextlib.contextmanager
    def span(self, name: str):
        self._counters()  # stages completed before the span are not its own
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["counters"] = self._counters()
            self._stack.pop()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def counter(self, name: str, key: str) -> float:
        vals = [s["counters"][key] for s in self.spans
                if s["name"] == name and s.get("counters")]
        if key == "task_skew":
            return max(vals, default=1.0)
        return sum(vals)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(),
                       "tracer_overhead_s": self.overhead_s}, f, indent=1)


# scale of the host-normalized throughput: it is reported as on a host
# where the calibration kernel takes this much CPU time
CALIBRATION_REF_S = 0.020

_KERNEL = """
import time
while True:
    t = time.process_time()
    acc = 0
    for i in range(100_000):
        acc = (acc * 31 + i) % 1_000_003
    print(time.process_time() - t, flush=True)
    time.sleep(0.2)
"""


class SpeedSampler:
    """Times a fixed single-core kernel every 0.2 s in a separate process
    while the block runs; `kernel_s` is its median CPU time. On a shared
    host the CPU itself runs slower when neighbours load the machine,
    and CPU time (not wall time) shows that without counting the time
    the sampler waits for a core behind the benchmark's own threads."""

    def __enter__(self) -> "SpeedSampler":
        self._p = subprocess.Popen([sys.executable, "-c", _KERNEL],
                                   stdout=subprocess.PIPE, text=True)
        self.pid = self._p.pid
        return self

    def __exit__(self, *exc) -> None:
        self._p.terminate()
        out, _ = self._p.communicate(timeout=30)
        samples = [float(x) for x in out.split()]
        self.kernel_s = statistics.median(samples) if samples else float("nan")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))
