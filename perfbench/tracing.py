"""Traced runs: spans around public library calls, and Spark's own job
and stage metrics read from the in-process status store.

Wrappers are installed from here, never inside the package: a public
function is replaced in every loaded module namespace that holds it
(``catalog.load_table`` as well as ``readers.load_table``), and public
methods are replaced on their classes. Spans stay in memory.
"""

from __future__ import annotations

import functools
import sys
import threading
import time

from stats import self_time, union_length

PACKAGE = "slipstream_async_spark"
OPERATOR_MODULES = ("dedup", "similarity", "aggregations", "joins", "membership")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        #: seconds spent in the wrappers' own bookkeeping
        self.overhead = 0.0
        #: wrappers record only while set (off once the measured pass ends)
        self.enabled = True
        self._local = threading.local()
        # the library commits state from pool threads: span indices and
        # the overhead sum are updated under this lock
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> int:
        stack = self._stack()
        span = {"name": name, "start": time.time(), "end": None,
                "parent": stack[-1] if stack else None, **attrs}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._stack().pop()

    def wrap(self, fn, name: str, attrs=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            idx = self.begin(name, **(attrs(*args, **kwargs) if attrs else {}))
            t1 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                self.end(idx)
                spent = (t1 - t0) + (time.perf_counter() - t2)
                with self._lock:
                    self.overhead += spent

        return wrapper

    # -- installation -----------------------------------------------------
    def replace_everywhere(self, fn, name: str, attrs=None) -> None:
        """Swap ``fn`` for a traced wrapper in every package module that
        holds it under any attribute name."""
        wrapper = self.wrap(fn, name, attrs)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        import importlib

        import slipstream_async_spark.plans.catalog  # noqa: F401 — load namespaces
        from slipstream_async_spark.sources import readers
        from slipstream_async_spark.streaming import dedup_flow, state
        from slipstream_async_spark.streaming.neardup_index import NearDupPrefixIndex

        for fn in ("load_table", "spread", "scoped_cache"):
            self.replace_everywhere(getattr(readers, fn), f"sources.{fn}")
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.operators.{short}")
            for attr, val in list(vars(mod).items()):
                if (
                    callable(val) and not attr.startswith("_")
                    and getattr(val, "__module__", None) == mod.__name__
                    and not isinstance(val, type)
                ):
                    self.replace_everywhere(val, f"operators.{short}")
        # streaming: StateTable / NearDupPrefixIndex methods, the group
        # commit (the sink appends the index's postings and sets through
        # it), and the sink factory, whose returned callable is wrapped
        for meth, name in (
            ("upsert", "streaming.state.upsert"),
            ("read_buckets", "streaming.state.read"),
            ("snapshot", "streaming.state.read"),
        ):
            setattr(state.StateTable, meth,
                    self.wrap(getattr(state.StateTable, meth), name))
        for meth, name in (
            ("probe", "streaming.neardup_index.probe"),
            ("refresh", "streaming.neardup_index.refresh"),
            ("maybe_refresh", "streaming.neardup_index.refresh"),
            ("freeze_order_from", "streaming.neardup_index.refresh"),
        ):
            setattr(NearDupPrefixIndex, meth,
                    self.wrap(getattr(NearDupPrefixIndex, meth), name))

        def group_attrs(group, *a, **k):
            # a group commit that writes the index's postings is the
            # index append of the indexed dedup sink
            return {"index_append": any(
                getattr(t, "partition_sep", None) for t, _ in group
            )}

        self.replace_everywhere(
            state.upsert_group, "streaming.state.upsert_group", group_attrs
        )
        factory = dedup_flow.indexed_incremental_dedup_sink

        @functools.wraps(factory)
        def make_sink(*args, **kwargs):
            return self.wrap(factory(*args, **kwargs),
                             "streaming.dedup_flow.neardup_sink")

        dedup_flow.indexed_incremental_dedup_sink = make_sink

    # -- summaries --------------------------------------------------------
    def closed(self, prefix: str = "") -> list[dict]:
        return [s for s in self.spans
                if s["end"] is not None and s["name"].startswith(prefix)]

    def layer(self, prefix: str, where=None) -> tuple[int, float]:
        """``(calls, seconds)`` of one layer: calls not nested inside
        another call of the same layer, and the wall time their union
        covers (overlapping pool-thread calls are not double counted)."""
        spans = [s for s in self.closed(prefix) if where is None or where(s)]
        outer = [s for s in spans if not self._inside(s, prefix)]
        return len(outer), union_length((s["start"], s["end"]) for s in spans)

    def _inside(self, span: dict, prefix: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def self_seconds(self, name: str, jobs) -> float:
        """Summed self time of the spans named ``name``: span time minus
        the union of its direct child spans and the Spark jobs that ran
        inside it."""
        total = 0.0
        job_iv = [(j["start"], j["end"]) for j in jobs]
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["end"] is None:
                continue
            kids = [(c["start"], c["end"]) for c in self.spans
                    if c["parent"] == i and c["end"] is not None]
            total += self_time(s["start"], s["end"], kids + job_iv)
        return total


# -- Spark status store -----------------------------------------------------

STAGE_FIELDS = {
    "run_ms": lambda s: s.executorRunTime(),
    "cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "input_rows": lambda s: s.inputRecords(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


def spark_jobs(spark) -> list[dict]:
    """Every finished job the status store retains, with its stages'
    summed metrics. Waits for the listener bus first, so the store has
    seen every event of the jobs that already returned."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        rec = {
            "id": j.jobId(),
            "start": sub.get().getTime() / 1000.0,
            "end": done.get().getTime() / 1000.0,
            "stages": 0, "tasks": 0, **{k: 0.0 for k in STAGE_FIELDS},
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 — evicted or never ran
                continue
            if str(st.status()) != "COMPLETE":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            for key, get in STAGE_FIELDS.items():
                rec[key] += get(st)
        out.append(rec)
    return out


def jobs_within(jobs: list[dict], intervals) -> list[dict]:
    """Jobs submitted inside any of the ``(start, end)`` intervals. The
    benchmark has one client, so submission time attributes a job to the
    phase that launched it even when the library submits it from a pool
    thread that does not inherit the phase's job group."""
    iv = sorted(intervals)
    # the status store keeps milliseconds: allow that much clock rounding
    return [j for j in jobs
            if any(s - 0.002 <= j["start"] <= e + 0.002 for s, e in iv)]


def job_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"jobs": float(len(jobs)),
           "stages": float(sum(j["stages"] for j in jobs)),
           "tasks": float(sum(j["tasks"] for j in jobs))}
    for key in STAGE_FIELDS:
        out[key] = float(sum(j[key] for j in jobs))
    return out
