"""Measurement taken from the benchmark's side of the program.

- ``Usage``: wall time, CPU seconds and peak resident memory of this
  process and all its descendants (the JVM and the Python workers),
  read from ``/proc``.
- ``next_job_id`` / ``stage_totals``: Spark job and stage counters
  read through the driver's scheduler and status store.
- ``StreamBatches``: a ``StreamingQueryListener`` that keeps the
  ``durationMs`` breakdown of every stream batch.
- ``Spans``: named layer spans with the number of Spark jobs each one
  launched.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> tuple[list[int], dict[int, float]]:
    """This process and its descendants, with each one's CPU seconds
    (reaped children included, so a worker that has exited still
    counts through its parent)."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        f = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(f[1])
        cpu[int(name)] = sum(int(v) for v in f[11:15]) / _TICK
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree, cpu


def tree_cpu_s() -> float:
    tree, cpu = _tree()
    return sum(cpu.get(p, 0.0) for p in tree)


def tree_pss_bytes() -> int:
    """Proportional set size of the tree: resident memory with pages
    shared between processes (forked Python workers) counted once."""
    total = 0
    for pid in _tree()[0]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class Usage:
    """Context manager: wall seconds, CPU seconds and peak resident
    bytes (PSS) of the process tree over the ``with`` block. Memory is
    sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.wall_s = self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()

    def _sample(self):
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, tree_pss_bytes())

    def __enter__(self):
        self._cpu0, self.peak_rss = tree_cpu_s(), tree_pss_bytes()
        self._t0 = time.perf_counter()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join()
        self.cpu_s = tree_cpu_s() - self._cpu0
        self.peak_rss = max(self.peak_rss, tree_pss_bytes())
        return False


def next_job_id(spark) -> int:
    """The id the next Spark job will get. Counts every job, including
    ones started from streaming threads."""
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return v if isinstance(v, int) else v.get()


def stage_totals(spark) -> dict[int, tuple[int, int, int]]:
    """stage id -> (shuffle write bytes, disk spill bytes, executor run
    ms) for every stage the status store still holds. The store exists
    with the UI disabled."""
    sc = spark.sparkContext
    # stageList(statuses, details, withSummaries, quantiles, taskStatus):
    # py4j passes no Scala default arguments
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None)
    out = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out[s.stageId()] = (
            s.shuffleWriteBytes(), s.diskBytesSpilled(), s.executorRunTime()
        )
    return out


def stage_delta(before: dict, after: dict) -> dict[str, float]:
    """Totals over the stages in ``after`` that ``before`` lacks."""
    new = [v for k, v in after.items() if k not in before]
    return {
        "shuffle_write_mb": sum(v[0] for v in new) / 2**20,
        "spill_mb": sum(v[1] for v in new) / 2**20,
        "task_run_s": sum(v[2] for v in new) / 1e3,
        "stages": len(new),
    }


class StreamBatches(StreamingQueryListener):
    """Keeps ``durationMs`` of every stream batch the session runs."""

    def __init__(self):
        self.batches: list[dict[str, int]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def flush(self, spark):
        """Wait until the listener bus has delivered every event."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def totals(self) -> dict[str, float]:
        def total(*keys):
            return float(sum(b.get(k, 0) for b in self.batches for k in keys))

        return {
            "stream_batches": len(self.batches),
            "stream_planning_ms": total("queryPlanning"),
            "stream_addbatch_ms": total("addBatch"),
            "stream_commit_ms": total("walCommit", "commitOffsets"),
        }


class Spans:
    """Named spans in call order: wall seconds and Spark jobs each."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        j0 = next_job_id(self.spark)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["jobs"] = next_job_id(self.spark) - j0
            self.spans.append(rec)

    def total(self, field: str, **match) -> float:
        return sum(
            s[field] for s in self.spans
            if all(s.get(k) == v for k, v in match.items())
        )
