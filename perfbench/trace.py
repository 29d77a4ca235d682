"""Spans around the engine's layers and the JVM counters beside them.

A traced run (``--trace 1``) wraps the public entry points of each
layer from here, never from inside the program:

- ``dialect.rewrite``            → span ``dialect.rewrite``
- ``ImpalaSession.sql``          → span ``session.sql`` (routing + analysis)
- the session's ``SparkSession.sql`` for INSERT / ANALYZE / REFRESH
                                 → ``sinks.write`` / ``catalog.stats`` /
                                   ``catalog.refresh``
- ``queryExecution().executedPlan()`` forced after ``session.sql``
                                 → ``catalyst.plan``
- Spark jobs, read back from the status store when the run ends
                                 → ``exec.job``

The workloads add the client-side spans (``statement``, ``wire.execute``,
``wire.fetch``, ``plans.construct``). The benchmark drives
one closed-loop client, so the server thread's work always nests inside
the client call that caused it: one span stack shared by all threads
gives every span its true parent.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory: ``{id, parent, stmt, name, start, end, …}``.
    Spans are recorded only while ``active`` (the timed window), so the
    wrapped layers ignore warm-up work."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.stmt: int | None = None
        self.active = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            rec = {"id": next(self._ids), "parent": parent, "stmt": self.stmt, "name": name, **attrs}
            self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._stack.remove(rec)
                self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (a Spark job); its parent is the
        innermost recorded span that contains its start."""
        best = None
        for s in self.spans:
            if s["start"] <= start <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]
            ):
                best = s
        self.spans.append(
            {
                "id": next(self._ids),
                "parent": best["id"] if best else None,
                "stmt": best["stmt"] if best else None,
                "name": name,
                "start": start,
                "end": end,
                **attrs,
            }
        )


class NullTracer:
    """The untraced run: spans cost one context-manager entry."""

    enabled = False
    stmt = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union(clipped)
    return out


# -- instrumentation ----------------------------------------------------------


def _statement_layer(sql: str) -> str | None:
    head = sql.lstrip()[:16].lower()
    if head.startswith("insert"):
        return "sinks.write"
    if head.startswith("analyze"):
        return "catalog.stats"
    if head.startswith("refresh"):
        return "catalog.refresh"
    return None


def _write_metrics(df) -> dict[str, int]:
    """numOutputRows / numOutputBytes / numFiles of an executed write."""
    out: dict[str, int] = {}
    plan = df._jdf.queryExecution().executedPlan()
    cmd = plan.commandPhysicalPlan() if hasattr(plan, "commandPhysicalPlan") else plan
    it = cmd.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


@contextlib.contextmanager
def instrument(tracer: Tracer, isess):
    """Wrap the layer entry points of one ImpalaSession for the life of
    the block; everything is restored on exit."""
    from impala_cut_spark import dialect

    orig_rewrite = dialect.rewrite
    orig_session_sql = isess.sql
    spark = isess.spark
    orig_spark_sql = spark.sql

    def rewrite(sql, *a, **kw):
        with tracer.span("dialect.rewrite"):
            return orig_rewrite(sql, *a, **kw)

    def spark_sql(sql, *a, **kw):
        layer = _statement_layer(sql)
        if layer is None:
            return orig_spark_sql(sql, *a, **kw)
        with tracer.span(layer) as sp:
            df = orig_spark_sql(sql, *a, **kw)
            if layer == "sinks.write":
                m = _write_metrics(df)
                sp["rows"] = m.get("numOutputRows", 0)
                sp["bytes"] = m.get("numOutputBytes", 0)
                sp["files"] = m.get("numFiles", 0)
            return df

    def session_sql(text, *a, **kw):
        with tracer.span("session.sql"):
            df = orig_session_sql(text, *a, **kw)
        if not df.isStreaming:
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        return df

    dialect.rewrite = rewrite
    spark.sql = spark_sql
    isess.sql = session_sql
    try:
        yield
    finally:
        dialect.rewrite = orig_rewrite
        del spark.sql
        del isess.sql


# -- JVM counters -------------------------------------------------------------


class JvmCounters:
    """Codegen, GC and heap counters of the driver JVM, as deltas over
    the timed window (``start`` … ``stop``)."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._mf = jvm.java.lang.management.ManagementFactory

    def _gc(self) -> tuple[int, int]:
        n = ms = 0
        for gc in self._mf.getGarbageCollectorMXBeans():
            n += gc.getCollectionCount()
            ms += gc.getCollectionTime()
        return n, ms

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def start(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()
        self._c0 = self._codegen.getCount()
        self._gc0 = self._gc()
        self.t0 = time.perf_counter()

    def stop(self) -> None:
        self.t1 = time.perf_counter()
        compiles = self._codegen.getCount() - self._c0
        n, ms = self._gc()
        peak = sum(p.getPeakUsage().getUsed() for p in self._heap_pools())
        self.deltas = {
            "codegen.compiles": compiles,
            # the compile-time histogram keeps a decaying sample, not a
            # sum: compiles × its mean is the closest total it gives
            "codegen.compile_ms": compiles * self._codegen.getSnapshot().getMean(),
            "jvm.gc_count": n - self._gc0[0],
            "jvm.gc_ms": ms - self._gc0[1],
            "jvm.heap_peak_mb": peak / 2**20,
        }

    def job_spans(self, tracer: Tracer) -> None:
        """Add one ``exec.job`` span per Spark job submitted inside the
        timed window, read from the status store once its listener
        queue has drained."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        offset = time.time() - time.perf_counter()
        it = sc.statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if not j.submissionTime().isDefined() or not j.completionTime().isDefined():
                continue
            start = j.submissionTime().get().getTime() / 1000.0 - offset
            end = j.completionTime().get().getTime() / 1000.0 - offset
            if start < self.t0 or start > self.t1:
                continue
            tracer.add_span(
                "exec.job",
                start,
                max(start, end),
                job=j.jobId(),
                stages=j.stageIds().size(),
                tasks=j.numTasks(),
                failed_tasks=j.numFailedTasks(),
            )


def layer_metrics(tracer: Tracer, counters: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced run (times are self times)."""
    st = self_times(tracer.spans)
    by: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        by[s["name"]].append(s)

    def self_s(name: str) -> float:
        return sum(st[s["id"]] for s in by[name])

    def total(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in by[name])

    jobs = by["exec.job"]
    rows_fetched = total("wire.fetch", "rows")
    fetch_ms = 1000 * self_s("wire.fetch")
    rows_written = total("sinks.write", "rows")
    write_s = sum(s["end"] - s["start"] for s in by["sinks.write"])
    m = {
        "dialect.rewrite_ms": 1000 * self_s("dialect.rewrite"),
        "dialect.statements": len(by["dialect.rewrite"]),
        "session.sql_ms": 1000 * self_s("session.sql"),
        "catalyst.plan_ms": 1000 * self_s("catalyst.plan"),
        "plans.construct_ms": 1000 * self_s("plans.construct"),
        "exec.s": _union([(s["start"], s["end"]) for s in jobs]),
        "exec.stages": total("exec.job", "stages"),
        "exec.tasks": total("exec.job", "tasks"),
        "exec.failed_tasks": total("exec.job", "failed_tasks"),
        "wire.execute_ms": 1000 * self_s("wire.execute"),
        "wire.fetch_ms": fetch_ms,
        "wire.fetch_pages": len(by["wire.fetch"]),
        "wire.rows_fetched": rows_fetched,
        "wire.us_per_row": 1000 * fetch_ms / rows_fetched if rows_fetched else 0.0,
        "sinks.write_s": self_s("sinks.write"),
        "sinks.rows_written": rows_written,
        "sinks.bytes_written": total("sinks.write", "bytes"),
        "sinks.files_written": total("sinks.write", "files"),
        "sinks.bytes_per_row": total("sinks.write", "bytes") / rows_written if rows_written else 0.0,
        "sinks.rows_written_per_s": rows_written / write_s if write_s else 0.0,
        "catalog.refresh_ms": 1000 * self_s("catalog.refresh"),
        "catalog.stats_ms": 1000 * self_s("catalog.stats"),
        "readback.s": sum(
            s["end"] - s["start"] for s in by["statement"] if s.get("kind") == "readback"
        ),
    }
    m.update(counters)
    return m
