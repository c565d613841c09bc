"""Spark-side harvest for one operation, read from outside the engine.

Every benchmark operation runs inside ``plans.cancel.query_group``; its
job group is the key here.  After the operation returns, the listener
bus is drained and the group's jobs and stages are read from the
application status store, which Spark keeps even with
``spark.ui.enabled=false``.  The executed plans come from the SQL status
store: every SQL execution whose jobs belong to the group contributes
its (adaptive, final) plan graph to a node census.
"""

from __future__ import annotations

from collections import Counter

PYTHON_UDF_NODES = {
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInArrow",
}

EXEC_KEYS = (
    "jobs", "stages", "tasks", "input_rows", "input_bytes", "shuffle_records",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms",
    "executor_run_ms", "executor_cpu_ms", "queue_wait_ms",
)
PLAN_KEYS = ("exchanges", "scans", "windows", "python_udfs", "broadcasts")


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] → epoch ms."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _as_list(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class Harvester:
    """Reads one job group's Spark metrics; holds only JVM handles."""

    RECENT = 256

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark.sparkContext._jvm
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._exec_cache: dict[int, list] = {}  # finished execution -> [jobs, names]

    def drain(self) -> None:
        """Wait until the listener bus delivered every pending event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group_id: str) -> dict:
        """exec.* totals, stage-active intervals and the plan census."""
        self.drain()
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group_id))
        store = self._jsc.statusStore()
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        out["jobs"] = float(len(job_ids))
        intervals = []
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j NoSuchElementException: never ran
                    continue
                if str(st.status()) != "COMPLETE":
                    continue  # skipped (reused shuffle) or failed
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_rows"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["gc_ms"] += st.jvmGcTime()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                sub = _opt_ms(st.submissionTime())
                first = _opt_ms(st.firstTaskLaunchedTime())
                done = _opt_ms(st.completionTime())
                if sub is not None and first is not None:
                    out["queue_wait_ms"] += max(0.0, first - sub)
                if sub is not None and done is not None:
                    intervals.append((sub, done))
        out.update(self.census(set(job_ids)))
        out["_intervals"] = intervals
        return out

    def census(self, job_ids: set) -> dict:
        """Node census of every SQL execution that ran one of ``job_ids``.
        Only the most recent ``RECENT`` executions are looked at (an op's
        own are among them); finished ones are cached by id."""
        names: Counter = Counter()
        if job_ids:
            n = int(self._sql_store.executionsCount())
            lo = max(0, n - self.RECENT)
            for ex in _as_list(self.jvm, self._sql_store.executionsList(lo, n - lo)):
                eid = ex.executionId()
                hit = self._exec_cache.get(eid)
                if hit is None:
                    jobs = {int(j) for j in _as_list(self.jvm, ex.jobs().keys().toSeq())}
                    hit = [jobs, None]
                    if ex.completionTime().isDefined():
                        self._exec_cache[eid] = hit
                if not hit[0] & job_ids:
                    continue
                if hit[1] is None:
                    graph = self._sql_store.planGraph(eid)
                    hit[1] = Counter(node.name().strip()
                                     for node in _as_list(self.jvm, graph.allNodes()))
                names.update(hit[1])
        return {
            "exchanges": float(names.get("Exchange", 0)),
            "broadcasts": float(names.get("BroadcastExchange", 0)),
            "scans": float(sum(v for k, v in names.items() if k.startswith("Scan"))),
            "windows": float(names.get("Window", 0)),
            "python_udfs": float(sum(v for k, v in names.items() if k in PYTHON_UDF_NODES)),
        }


def busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
