"""Outside-in readers of Spark's own bookkeeping.

Nothing here reaches into the engine package: every number comes from
the driver JVM's status stores, a ``StreamingQueryListener`` the
benchmark registers, ``/proc`` and the JVM's memory bean.

Work is attributed to a key by id range. Job, stage and SQL execution
ids are allocated in increasing order, so everything with an id above
the mark taken before a call and at most the mark taken after it ran
inside that call. Job groups are not used: ``foreachBatch`` jobs run on
the stream's thread and carry no group.
"""

from __future__ import annotations

import contextlib
import os
import re
import signal
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MB = 1e6

# SQL plan-graph metric names (display names) of Spark 4.1's Python
# operators: pythonTotalTime, pythonBootTime, pythonInitTime and, on the
# same node, pythonNumRowsReceived ("number of output rows").
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_ROWS = "number of output rows"

# physical-plan node of a saveAsTable into the session catalog
TABLE_WRITE = "CreateDataSourceTableAsSelectCommand"

# Stage counters summed per key: name -> (StageData getter, scale).
STAGE_SUMS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / _MB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / _MB),
    "spill_mb": ("diskBytesSpilled", 1 / _MB),
    "input_mb": ("inputBytes", 1 / _MB),
    "input_rows": ("inputRecords", 1),
}


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, user+system CPU seconds with reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while we listed
        # the command name may hold spaces; fields resume after its ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(entry)] = (int(fields[1]), ticks / _CLK_TCK)
    return table


def process_tree(table: dict | None = None) -> list[int]:
    """This process and all its descendants (the Spark JVM and its
    Python workers)."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def process_tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its descendants,
    reaped children included."""
    table = _proc_table()
    return sum(table[pid][1] for pid in process_tree(table) if pid in table)


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; terminate, then kill, what outlives
    ``timeout_s``."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not pids:
                return
            time.sleep(0.05)


def heap_retained_mb(spark) -> float:
    """JVM heap in use after explicit full GCs. Each GC lets Spark's
    ContextCleaner release the shuffles and broadcasts it finds
    unreachable, which the next GC then frees, so GCs are repeated, half
    a second apart, until one frees nothing more (at most ten)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    bean = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    least = float("inf")
    for _ in range(10):
        bean.gc()
        time.sleep(0.5)
        used = bean.getHeapMemoryUsage().getUsed()
        if used >= least:
            break
        least = used
    return least / _MB


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric: '812 ms', '1.5 s', or
    'total (min, med, max ...)\\n1.5 s (...)'."""
    m = re.match(r"\s*([\d.,]+) (ms|s|m|h)\b", text.split("\n")[-1])
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[m.group(2)]


def _count(text: str) -> int:
    m = re.match(r"\s*([\d,]+)", text.split("\n")[-1])
    return int(m.group(1).replace(",", "")) if m else 0


class StatusReader:
    """Marks and per-range counter sums over the driver's AppStatusStore
    and SQL status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._gw.jvm.scala.jdk.javaapi.CollectionConverters

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def _stages_desc(self):
        gw = self._gw
        return self._store.stageList(
            gw.jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )

    def mark(self) -> Mark:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        stages = self._stages_desc()
        n_exec = self._sql.executionsCount()
        last = self._sql.executionsList(int(n_exec) - 1, 1) if n_exec else None
        return Mark(
            job=jobs.head().jobId() if jobs.nonEmpty() else -1,
            stage=stages.head().stageId() if stages.nonEmpty() else -1,
            execution=last.head().executionId() if last is not None and last.nonEmpty() else -1,
        )

    def jobs_between(self, lo: Mark, hi: Mark) -> int:
        return max(0, hi.job - lo.job)

    def stage_counters(self, lo: Mark, hi: Mark) -> dict:
        """Sums of STAGE_SUMS, stage and task counts, and the largest
        max/median task-time ratio, over stages run (not skipped) with
        ids in (lo, hi]."""
        out = {k: 0.0 for k in STAGE_SUMS}
        out.update(stages=0, tasks=0, task_skew=1.0)
        if hi.stage <= lo.stage:
            return out
        quant = self._gw.new_array(self._gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        stages = self._stages_desc()
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= lo.stage:
                break
            if sid > hi.stage or s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            for name, (getter, scale) in STAGE_SUMS.items():
                out[name] += getattr(s, getter)() * scale
            if s.numCompleteTasks() > 1:
                dist = self._store.taskSummary(sid, s.attemptId(), quant)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    out["task_skew"] = max(out["task_skew"], top / max(med, 1.0))
        return out

    def table_writes_s(self, lo: Mark, hi: Mark) -> float:
        """Wall seconds of the SQL executions with ids in (lo, hi] that
        created a catalog table from a query (``saveAsTable``)."""
        total = 0.0
        for eid in range(lo.execution + 1, hi.execution + 1):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                continue
            ex = ex.get()
            done = ex.completionTime()
            if TABLE_WRITE in ex.physicalPlanDescription() and done.isDefined():
                total += (done.get().getTime() - ex.submissionTime()) / 1000.0
        return total

    def python_counters(self, lo: Mark, hi: Mark) -> dict:
        """Python-worker time and rows from the SQL status store, over
        SQL executions with ids in (lo, hi]."""
        out = {"py_udf_s": 0.0, "py_boot_s": 0.0, "py_init_s": 0.0, "py_rows": 0}
        for eid in range(lo.execution + 1, hi.execution + 1):
            if not self._sql.execution(eid).isDefined():
                continue
            values = {
                int(k): v
                for k, v in self._conv.asJava(self._sql.executionMetrics(eid)).items()
            }
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                by_name = {}
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    by_name[m.name()] = m.accumulatorId()
                if PY_TOTAL not in by_name:
                    continue

                def text(name: str) -> str:
                    return values.get(by_name.get(name), "")

                out["py_udf_s"] += _duration_s(text(PY_TOTAL))
                out["py_boot_s"] += _duration_s(text(PY_BOOT))
                out["py_init_s"] += _duration_s(text(PY_INIT))
                out["py_rows"] += _count(text(PY_ROWS))
        return out


class StreamCounter(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0
        self.input_rows = 0

    def snapshot(self) -> tuple[int, float, int]:
        with self._lock:
            return self.batches, self.batch_s, self.input_rows

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            self.batch_s += p.durationMs.get("triggerExecution", 0) / 1000.0
            self.input_rows += p.numInputRows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
