"""Spark execution counters for a window of work and operator counts of
a physical plan — the one reader of Spark's job and stage metrics and
of executed plans in this repo.

    with capture(spark) as c:
        run_something(spark)
    c["tasks"], c["shuffle_write_bytes"], c["cpu_s"], ...

``capture`` reads the driver's live ``AppStatusStore`` (the store the
Spark UI and its REST API render) through py4j. The status listener
feeds it whether or not the UI server runs, so this needs no UI, no
event log and no session configuration (``get_spark`` runs with
``spark.ui.enabled=false``).

The window is a job-id and stage-id watermark taken after draining the
async listener bus, so it counts every job submitted inside it from any
thread (the pipelines submit from ThreadPoolExecutors) and nothing
submitted before it. The store keeps a bounded history
(``spark.ui.retainedStages``/``retainedJobs``, 1000 by default) and
evicts skipped, then oldest-completed entries first; once it has
evicted the start of a window, reading that window raises instead of
under-counting.

``plan_fingerprint(df)`` counts the operator nodes of a DataFrame's
executed plan by walking the JVM plan tree (not its printed text):

    plan_fingerprint(df)["exchange_hash"], ...["BroadcastHashJoin"], ...

``tests/plan_snapshot.json`` holds the fingerprint of every registered
query; ``tests/test_plans.py`` compares against it.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager

#: counter column -> v1.StageData getter, summed over the window's
#: stage attempts (skipped and pending attempts are all zeros)
_STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def _since(listing, key: str, lo: int) -> list:
    """The entries of a status-store listing (newest id first) whose id
    is >= ``lo``. Raises if the store holds nothing older and has
    already evicted id ``lo`` itself."""
    out, it = [], listing.iterator()
    while it.hasNext():
        x = it.next()
        if getattr(x, key)() < lo:
            return out
        out.append(x)
    if out and getattr(out[-1], key)() > lo:
        raise RuntimeError(
            f"status store evicted {key} {lo}, the start of the capture "
            "window; capture a shorter window")
    return out


def _newest(listing, key: str) -> int:
    it = listing.iterator()
    return getattr(it.next(), key)() if it.hasNext() else -1


class Window(dict):
    """The counters of one ``capture`` window: filled in when the
    window closes; ``read()`` gives the counts so far from inside it."""

    def __init__(self, spark):
        super().__init__()
        self._sc = spark.sparkContext
        self._ctx = self._sc._jsc.sc()
        self._ctx.listenerBus().waitUntilEmpty()
        self._job_lo = _newest(self._jobs(), "jobId") + 1
        self._stage_lo = _newest(self._stages(), "stageId") + 1

    def _jobs(self):
        return self._ctx.statusStore().jobsList(
            self._sc._jvm.java.util.ArrayList())

    def _stages(self):
        jvm = self._sc._jvm
        return self._ctx.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())

    def read(self) -> dict:
        self._ctx.listenerBus().waitUntilEmpty()
        jobs = _since(self._jobs(), "jobId", self._job_lo)
        out = {"jobs": len(jobs), "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
               **dict.fromkeys(_STAGE_SUMS, 0)}
        for s in _since(self._stages(), "stageId", self._stage_lo):
            out["stages"] += str(s.status()) == "COMPLETE"
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            for col, getter in _STAGE_SUMS.items():
                out[col] += getattr(s, getter)()
        out["run_s"], out["cpu_s"] = (round(out["run_s"], 3),
                                      round(out["cpu_s"], 3))
        return out


@contextmanager
def capture(spark):
    """Count the jobs and stages submitted inside the ``with`` block;
    the yielded ``Window`` holds the counters once the block exits."""
    window = Window(spark)
    yield window
    window.update(window.read())


def release_cached_blocks(spark, wait_s: float = 2.0) -> int:
    """Free every cached block before the next measured entry, so no
    entry pays memory pressure created by another entry's dead blocks.

    ``clearCache()`` only drops ``persist()`` blocks. localCheckpoint
    RDD blocks are released by the ContextCleaner only after their
    DataFrames are garbage-collected and a JVM GC pass has drained the
    cleaner's weak-reference queue, so force Python GC, then nudge the
    JVM collector until the block manager reports no RDD blocks (or
    ``wait_s`` expires). Returns the leftover block count (0 = clean).
    """
    spark.catalog.clearCache()
    gc.collect()
    sc = spark.sparkContext
    deadline = time.time() + wait_s
    while True:
        left = len(sc._jsc.sc().getRDDStorageInfo())
        if left == 0 or time.time() > deadline:
            return left
        sc._jvm.System.gc()
        time.sleep(0.05)


#: shuffle-exchange partitioning class -> fingerprint key
_EXCHANGES = {
    "HashPartitioning": "exchange_hash",
    "RoundRobinPartitioning": "exchange_round_robin",
    "SinglePartition": "exchange_single",
    "RangePartitioning": "exchange_range",
}
#: physical nodes counted by name (class name without ``Exec``)
_NODES = (
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "SortMergeJoin",
    "ShuffledHashJoin", "CartesianProduct", "Window", "WindowGroupLimit",
    "Generate", "Expand", "Union", "TakeOrderedAndProject",
    "InMemoryTableScan",
)
#: the keys of every fingerprint, in this order
FINGERPRINT_KEYS = (*_EXCHANGES.values(), "exchange_broadcast", *_NODES,
                    "python_eval", "scan", "read_schema_width")
_PYTHON_PKG = "org.apache.spark.sql.execution.python."


def executed_plan(df) -> str:
    """The executed physical plan of ``df`` as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


def _seq(seq) -> list:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def plan_fingerprint(df) -> dict[str, int]:
    """Operator counts of ``df``'s executed plan, keyed by
    ``FINGERPRINT_KEYS``: shuffle exchanges by partitioning, broadcast
    exchanges, the join/window/generate/expand/union/top-k/cache nodes
    of ``_NODES``, Python evaluation nodes, file scans and the total
    number of top-level columns those scans read.

    The walk covers the current plan of every adaptive node (inside its
    query stages once it has run), subquery plans and the plans behind
    cached relations; a reused exchange is not counted again. A cached
    relation enters the plan of every later DataFrame with the same
    logical plan, so the counts depend on what the session has
    cached."""
    out = dict.fromkeys(FINGERPRINT_KEYS, 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getName()
        name = cls.rsplit(".", 1)[1].removesuffix("Exec")
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "ShuffleExchange":
            part = node.outputPartitioning().getClass().getSimpleName()
            out[_EXCHANGES[part.removesuffix("$")]] += 1
        elif name == "BroadcastExchange":
            out["exchange_broadcast"] += 1
        elif name in out:
            out[name] += 1
        elif cls.startswith(_PYTHON_PKG):
            out["python_eval"] += 1
        elif name == "FileSourceScan":
            out["scan"] += 1
            out["read_schema_width"] += node.requiredSchema().length()
        elif name == "BatchScan":
            out["scan"] += 1
            out["read_schema_width"] += node.scan().readSchema().length()
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.innerChildren()))
    return out
