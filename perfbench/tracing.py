"""Per-layer tracing: spans around calls into the engine, costed from
Spark's own status stores.

A span is opened from the benchmark's side of a call into the engine
(the workload body, a wrapped plan stage). Each span
instance gets its own Spark job group, so after the run every job,
stage and SQL execution is attributed to exactly one span by asking
the status tracker which jobs ran under which group. Nothing here reads
the Spark UI (it is off); the stores are the ones ``statusTracker``
uses.

Spans live in memory; :meth:`Tracer.resolve` turns the spans of one
finished run into per-span numbers, outside the timed region.
"""

from __future__ import annotations

import contextlib
import re
import time

from py4j.protocol import Py4JJavaError

MB = float(1 << 20)

# SQL-metric names (Spark 4.1 PythonSQLMetrics) → span field
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_mb_in",
    "data returned from Python workers": "arrow_mb_out",
}
BASE_FIELDS = ("s", "jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb")
PY_FIELDS = tuple(PY_METRICS.values())

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1 / MB, "KiB": 1024 / MB, "MiB": 1.0, "GiB": 1024.0,
          "TiB": 1024.0 ** 2}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric → seconds (timings) or MiB (sizes).

    Spark formats task-summed metrics as ``total (min, med, max ...)``
    on one line and the values on the next; the first value is the
    total.
    """
    line = text.split("\n", 1)[-1]
    m = _VALUE.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(jvm_seq) -> list:
    return [jvm_seq.apply(i) for i in range(jvm_seq.size())]


class Tracer:
    """Span recorder for one Spark session (one driver thread)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._core = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = int(self._sql.executionsCount())
        self._stack: list[dict] = []
        self._open: list[dict] = []   # spans since the last resolve
        self._seq = 0
        self.counters: dict[str, int] = {}   # reset by the caller

    def count(self, name: str, n: int = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        rec = {"name": name, "group": f"perfbench-{self._seq}",
               "parent": self._stack[-1]["group"] if self._stack else None,
               "start": time.perf_counter()}
        self._stack.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    # ----------------------------------------------------------- costs
    def resolve(self) -> list[dict]:
        """Cost every span opened since the last call.

        Returns one dict per span: name, parent group, wall ``dur``,
        self time ``s`` and the Spark fields of its own jobs.
        """
        spans, self._open = self._open, []
        self._core.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._core.statusStore()
        owner: dict[int, dict] = {}
        for rec in spans:
            child = sum(c["end"] - c["start"] for c in spans
                        if c["parent"] == rec["group"])
            rec["dur"] = rec["end"] - rec["start"]
            rec["s"] = rec["dur"] - child
            for f in BASE_FIELDS[1:] + PY_FIELDS + ("broadcast_mb",):
                rec[f] = 0.0
            for job in tracker.getJobIdsForGroup(rec["group"]):
                owner[job] = rec
                rec["jobs"] += 1
                for stage in _seq(store.job(job).stageIds()):
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Py4JJavaError:  # the stage never ran
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    rec["spill_mb"] += sd.diskBytesSpilled() / MB
        # an SQL execution runs on one thread, so all its jobs belong to
        # the span that was open when it started
        n, seen = int(self._sql.executionsCount()), self._sql_seen
        for ex in (_seq(self._sql.executionsList(seen, n - seen))
                   if n > seen else []):
            jobs = (int(j) for j in _seq(ex.jobs().keys().toSeq()))
            rec = next((owner[j] for j in jobs if j in owner), None)
            if rec is not None:
                self._add_sql(rec, ex.executionId())
        self._sql_seen = n
        return spans

    def _add_sql(self, rec: dict, execution_id: int) -> None:
        values = self._sql.executionMetrics(execution_id)
        graph = self._sql.planGraph(execution_id)
        seen: set[int] = set()
        for node in _seq(graph.allNodes()):
            node_name = node.name()
            for m in _seq(node.metrics()):
                acc = m.accumulatorId()
                if acc in seen:
                    continue
                seen.add(acc)
                field = PY_METRICS.get(m.name())
                bcast = (node_name == "BroadcastExchange"
                         and m.name() == "data size")
                if field is None and not bcast:
                    continue
                v = values.get(acc)
                if not v.isDefined():
                    continue
                val = parse_metric(v.get())
                if field is not None:
                    rec[field] += val
                else:
                    rec["broadcast_mb"] += val


@contextlib.contextmanager
def engine_wrappers(tracer: Tracer, stage_prefix: str):
    """Open a span on every stage of a snapshot-staged plan and count
    plan-cache hits and misses, for the duration of the block.

    A stage span covers ``SnapshotStagedPlan._stage``: the stage's
    build function (which may run eager jobs, such as connected components'
    iterations or a join-policy collect), its catalog commit, and its
    lineage collect. Buffered ``_metrics``/``_lineage`` appends stay in
    the enclosing run span.
    """
    from ner_pytorch_spark.plan_cache import PlanCache
    from ner_pytorch_spark.plans.staged import SnapshotStagedPlan

    stage, get_or_build = SnapshotStagedPlan._stage, PlanCache.get_or_build

    def traced_stage(self, name, *args, **kwargs):
        with tracer.span(stage_prefix + name):
            return stage(self, name, *args, **kwargs)

    def counted_get_or_build(self, key, build):
        built = []

        def counted_build():
            built.append(1)
            return build()

        df = get_or_build(self, key, counted_build)
        tracer.count("plan_cache.misses" if built else "plan_cache.hits")
        return df

    SnapshotStagedPlan._stage = traced_stage
    PlanCache.get_or_build = counted_get_or_build
    try:
        yield
    finally:
        SnapshotStagedPlan._stage = stage
        PlanCache.get_or_build = get_or_build
