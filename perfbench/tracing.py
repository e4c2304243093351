"""Per-layer tracing, installed from outside the engine.

``Tracer`` wraps the engine's public entry points (module attributes and
``Catalog`` methods) so every call records a span: layer name, start,
end, and the index of the benchmark op that caused it. Spark-side work
is read per op from Spark's status store: every job started while
the op ran (the op's job group, plus the jobs a streaming query runs
under its own group) is summed from its stage records.

``NullTracer`` has the same interface and records nothing; the
untraced run, which gives every end-to-end metric, uses it.
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?(\w+)")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def tree_bytes(path: Path, pattern: str = "*") -> int:
    return sum(p.stat().st_size for p in Path(path).rglob(pattern) if p.is_file())


class NullTracer:
    """Untraced mode: the ops run exactly as users would run them."""

    def __init__(self, spark=None):
        self.spark = spark

    def install(self, h) -> None:
        pass

    @contextmanager
    def span(self, name: str):
        yield

    def collect(self, df):
        return df.columns, [tuple(r) for r in df.collect()]

    def begin_op(self, index: int, label: str) -> None:
        pass

    def end_op(self, index: int) -> None:
        pass


@dataclass
class Span:
    layer: str
    start: float
    end: float
    op: int | None  # None: set-up, outside any timed op
    info: dict = field(default_factory=dict)


class Tracer(NullTracer):
    """Traced mode: spans around engine calls, Spark counters per op."""

    def __init__(self, spark=None):
        super().__init__(spark)
        self.spans: list[Span] = []
        self.op: int | None = None
        self.op_spark: dict[int, dict] = {}
        self.op_plan: dict[int, dict] = {}
        self._last_job = -1

    # ---- spans ----

    @contextmanager
    def span(self, name: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.perf_counter(), self.op))

    def wrap(self, owner, attr: str, layer: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording ``layer`` spans.
        ``before(args)`` and ``after(args, result)`` may return span
        fields; the work they do lies outside the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            info = before(args) if before else {}
            start = time.perf_counter()
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                end = time.perf_counter()
                if after:
                    info.update(after(args, result))
                self.spans.append(Span(layer, start, end, self.op, info))

        setattr(owner, attr, traced)

    def install(self, h) -> None:
        """Wrap the engine's public layer boundaries."""
        import hustle_spark.streaming as streaming
        import hustle_spark.util as util
        from hustle_spark.catalog import Catalog

        def data_files(args, result):
            path = args[0].root / args[1]
            if path.is_dir():
                return {"files": sum(1 for _ in path.rglob("*.parquet"))}
            return {"files": int(path.with_suffix(".parquet").exists())}

        def table_bytes(key):
            def measure(args, result=None):
                path = args[0].root / args[1]
                return {key: tree_bytes(path, "*.parquet") if path.is_dir() else 0}
            return measure

        self.wrap(h, "connect", "catalog.connect")
        self.wrap(h, "get_session", "session.get_session")
        self.wrap(h, "select", "dsl.select")
        self.wrap(h, "insert", "insert", after=lambda a, r: {"rows": r or 0})
        self.wrap(Catalog, "table", "catalog.table",
                  before=lambda a: {"hit": a[1] in a[0]._cache}, after=data_files)
        for name in ("append", "compact"):
            self.wrap(Catalog, name, f"catalog.{name}",
                      before=table_bytes("bytes_before"), after=table_bytes("bytes_after"))
        self.wrap(Catalog, "delete_partitions", "catalog.delete_partitions")
        self.wrap(streaming, "run_streaming_batch", "streaming.run_streaming_batch")
        self.wrap(util, "release_all_persistent", "util.release_all_persistent",
                  after=lambda a, r: {"released": r or 0})

    # ---- per-op Spark counters ----

    def collect(self, df):
        """Plan, then run, the materializing action as two spans, and
        count the executed plan's exchanges and Python evaluations."""
        qe = df._jdf.queryExecution()
        with self.span("spark.plan"):
            qe.executedPlan()
        with self.span("spark.action"):
            rows = [tuple(r) for r in df.collect()]
        plan = str(qe.executedPlan().toString()).split("== Initial Plan ==")[0]
        nodes = [m.group(1) for m in map(_NODE.match, plan.splitlines()) if m]
        self.op_plan[self.op] = {
            "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
            "python_evals": sum(bool(_PYTHON_NODE.search(n)) for n in nodes),
        }
        return df.columns, rows

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _max_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def begin_op(self, index: int, label: str) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._last_job = self._max_job_id()
        sc.setJobGroup(f"perfbench-{index}", label)
        self._reset_heap_peaks()
        self.op = index

    def end_op(self, index: int) -> None:
        sc = self.spark.sparkContext
        self.op = None
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._store()
        jobs = store.jobsList(None)
        c = defaultdict(float)
        stages = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() > self._last_job:
                c["jobs"] += 1
                ids = job.stageIds()
                stages.update(ids.apply(s) for s in range(ids.size()))
        for stage_id in stages:
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # a stage the store never saw
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["tasks_failed"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_bytes"] += st.inputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["heap_peak_mb"] = self._heap_peak_mb()
        self.op_spark[index] = dict(c)

    def _heap_pools(self):
        jvm = self.spark.sparkContext._jvm
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        heap = jvm.java.lang.management.MemoryType.HEAP
        return [pools.get(i) for i in range(pools.size()) if pools.get(i).getType() == heap]

    def _reset_heap_peaks(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def _heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since the op began: an upper
        bound on the op's peak heap use."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    # ---- summaries ----

    def per_op(self, layer: str, key=None) -> dict[int, float]:
        """Per timed op: total span time in ``layer`` (or the sum of the
        span field ``key``)."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.layer == layer and s.op is not None:
                out[s.op] += (s.end - s.start) if key is None else (s.info.get(key) or 0)
        return dict(out)

    def setup_total(self, layer: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.layer == layer and s.op is None)

    def timed_spans(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and s.op is not None]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
