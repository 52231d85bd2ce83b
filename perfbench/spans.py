"""Traced-run tooling: spans around each layer's public functions, Spark's
per-request counters, and self time per layer.

Spans (name, start, end, parent, request id) stay in memory and are written
out when the run ends.  The wrappers are installed from here, by replacing
module attributes, and removed again by ``uninstall``; the engine's code is
not changed.  A span is recorded only inside a request marked as traced,
so one process can alternate traced and untraced requests of the same
stream and compare them (``trace.overhead_pct``).

Spark execution is read from Spark's status store: each traced request runs
under its own job group, and after the run the jobs of that group become
``spark.job`` spans, children of the innermost span they ran in.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float          # epoch seconds
    end: float
    parent: int | None
    rid: str


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    return sum(b - a for a, b in _union(
        [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that its
    children's spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: (s.end - s.start) - covered(kids[s.sid], s.start, s.end)
            for s in spans}


def attach_jobs(spans: list[Span], jobs: list[tuple[float, float]],
                next_sid: int) -> list[Span]:
    """``spark.job`` spans for one request's Spark jobs, each the child of
    the deepest span whose interval holds the job's midpoint.  Jobs that
    overlap under one parent ran concurrently; they become one span over
    their union, so self times still add up to the request's wall time."""
    depth: dict[int, int] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.sid] = d
    under: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for lo, hi in jobs:
        mid = (lo + hi) / 2
        holders = [s for s in spans if s.start <= mid <= s.end]
        parent = max(holders, key=lambda s: depth[s.sid]).sid if holders \
            else spans[0].sid
        under[parent].append((lo, hi))
    rid = spans[0].rid
    out = []
    for parent, ivs in under.items():
        for lo, hi in _union(ivs):
            out.append(Span(next_sid + len(out), "spark.job", lo, hi, parent,
                            rid))
    return out


class Tracer:
    """In-memory span recorder plus the layer wrappers."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.cache_hits: dict[str, int] = defaultdict(int)
        self.captured: dict[str, dict] = defaultdict(dict)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self._tables: dict[tuple, object] = {}

    # -- spans ---------------------------------------------------------------
    def _new_sid(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def current_rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @contextlib.contextmanager
    def request(self, rid: str):
        """The root span of one traced request."""
        self._local.rid = rid
        self._local.stack = []
        self._enter("request")
        try:
            yield
        finally:
            self._exit()
            self._local.rid = None

    def _enter(self, name: str) -> Span:
        stack = self._local.stack
        s = Span(self._new_sid(), name, time.time(), 0.0,
                 stack[-1].sid if stack else None, self._local.rid)
        stack.append(s)
        return s

    def _exit(self) -> None:
        s = self._local.stack.pop()
        s.end = time.time()
        with self._lock:
            self.spans.append(s)

    # -- wrappers ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper; ``after(result,
        args)`` runs on the result of traced calls."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.current_rid() is None:
                return orig(*args, **kwargs)
            tracer._enter(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._exit()
            if after is not None:
                after(out, args)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Span the public functions of every measured layer."""
        from incubator_druid_spark import api, catalog
        from incubator_druid_spark.operators import (groupby, metadata, scan,
                                                     search, timeseries, topn)
        from incubator_druid_spark.pipeline import dedup, text
        from incubator_druid_spark.plans import cache, datasource, translator
        from incubator_druid_spark.sources import ingest
        from incubator_druid_spark.sql import functions as sqlf

        self.wrap(api, "native_query", "api.native_query")
        self.wrap(api, "sql_query", "api.sql_query")
        # api binds translate at import; translator's own attribute serves
        # the subquery path in plans.datasource
        self.wrap(api, "translate", "plans.translate")
        self.wrap(translator, "translate", "plans.translate")
        self.wrap(cache, "lookup", "plans.cache.lookup", self._on_lookup)
        self.wrap(cache, "populate", "plans.cache.populate", self._on_populate)
        self.wrap(translator, "resolve_datasource", "plans.datasource.resolve")
        self.wrap(datasource, "resolve_datasource", "plans.datasource.resolve")
        for mod, attr, qt in ((timeseries, "run", "timeseries"),
                              (topn, "run", "topN"),
                              (groupby, "run", "groupBy"),
                              (scan, "run", "scan"),
                              (search, "run", "search"),
                              (metadata, "time_boundary", "timeBoundary")):
            self.wrap(mod, attr, f"operators.{qt}.build")
        self.wrap(sqlf, "druid_sql", "sql.druid_sql")
        self.wrap(catalog.Catalog, "table", "catalog.table", self._on_table)
        self.wrap(ingest, "ingest", "sources.ingest")
        self.wrap(ingest, "read_input", "sources.read_input")
        self.wrap(text, "gopher_quality", "pipeline.gopher_quality.build")
        self.wrap(dedup, "fingerprint_dedup", "pipeline.fingerprint_dedup.build")
        self.wrap(dedup, "minhash_dedup", "pipeline.minhash_dedup.build",
                  self._capture("verified"))
        self.wrap(dedup, "minhash_lsh_candidates", "pipeline.minhash_lsh.build",
                  self._capture("candidates"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def _on_lookup(self, out, args) -> None:
        ctx = (args[0].get("context") or {}) if args else {}
        if ctx.get("useCache"):
            self._count("plans.cache.lookups")
        if out is not None:
            self._count("plans.cache.hits")
            with self._lock:
                self.cache_hits[self.current_rid()] += 1

    def _on_populate(self, out, args) -> None:
        if ((args[0].get("context") or {}) if args else {}).get("populateCache"):
            self._count("plans.cache.populates")

    def _on_table(self, out, args) -> None:
        # a resolved DataFrame handed out again is a catalog cache reuse
        key = (id(args[0]), args[1])
        with self._lock:
            if self._tables.get(key) is out:
                self.counts["catalog.table.reuses"] += 1
            self._tables[key] = out

    def _capture(self, name: str):
        """``after`` hook keeping a traced call's result under ``name``."""
        def keep(out, args) -> None:
            with self._lock:
                self.captured[self.current_rid()][name] = out
        return keep

    # -- output --------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark's status store
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_group_stats(sc, group: str) -> dict:
    """Jobs, stages and task counters of one job group, from the status
    store (works with the UI disabled)."""
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "launch_wait_s": [],
           "job_intervals": [], "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
           "input_bytes": 0, "input_rows": 0, "shuffle_write_bytes": 0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(int(jid))
        lo, hi = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        out["jobs"] += 1
        if lo is not None and hi is not None:
            out["job_intervals"].append((lo, hi))
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(int(stage_ids.apply(k)))
            except Exception:  # noqa: BLE001 — skipped stage, never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            sub, first = _opt_ms(st.submissionTime()), \
                _opt_ms(st.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                out["launch_wait_s"].append(first - sub)
            out["run_ms"] += st.executorRunTime()
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["input_bytes"] += st.inputBytes()
            out["input_rows"] += st.inputRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out


def drain_listener(sc, timeout_s: float = 10.0) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store holds the finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, group_stats: dict[str, dict],
                  result_rows: dict[str, int],
                  latency: dict[str, float]) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced requests.

    ``X.ms`` and ``X.self_ms`` are medians per call, counts are per traced
    request unless named as totals; the spark.* times are per request.
    ``trace.self_sum_error_pct`` compares each request's summed self times
    with its ``latency`` (seconds), measured by the client on its own clock:
    the summed gaps over the summed latencies.  Time outside the root span,
    or Spark jobs reaching past the span they ran in, make it grow."""
    by_rid: dict[str, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        by_rid[s.rid].append(s)
    dur: dict[str, list[float]] = defaultdict(list)
    self_ms: dict[str, list[float]] = defaultdict(list)
    gap = lat_sum = 0.0
    for rid, spans in by_rid.items():
        spans.sort(key=lambda s: (s.parent is not None, s.start))
        st = group_stats.get(rid)
        if st:
            spans = spans + attach_jobs(spans, st["job_intervals"],
                                        10 ** 9 + len(spans))
        selfs = self_times(spans)
        if rid in latency:
            gap += abs(sum(selfs.values()) - latency[rid])
            lat_sum += latency[rid]
        for s in spans:
            dur[s.name].append((s.end - s.start) * 1000.0)
            self_ms[s.name].append(selfs[s.sid] * 1000.0)
    n_req = max(1, len(by_rid))
    m: dict[str, float] = {}
    m["trace.requests"] = float(len(by_rid))
    m["trace.spans"] = float(len(tracer.spans))
    m["trace.self_sum_error_pct"] = gap / lat_sum * 100.0 if lat_sum else 0.0

    m["plans.translate.ms"] = _med(dur["plans.translate"])
    m["plans.translate.self_ms"] = _med(self_ms["plans.translate"])
    for qt in ("timeseries", "topN", "groupBy", "scan", "search",
               "timeBoundary"):
        m[f"operators.{qt}.build_ms"] = _med(dur[f"operators.{qt}.build"])
    m["plans.datasource.resolve_ms"] = _med(dur["plans.datasource.resolve"])
    m["sql.druid_sql.ms"] = _med(dur["sql.druid_sql"])

    lookups = tracer.counts["plans.cache.lookups"]
    m["plans.cache.lookups"] = lookups
    m["plans.cache.hit_ratio"] = tracer.counts["plans.cache.hits"] / lookups \
        if lookups else 0.0
    m["plans.cache.populates"] = tracer.counts["plans.cache.populates"]

    calls = len(dur["catalog.table"])
    m["catalog.table.calls"] = float(calls)
    m["catalog.table.ms"] = _med(dur["catalog.table"])
    m["catalog.table.reuse_ratio"] = \
        tracer.counts["catalog.table.reuses"] / calls if calls else 0.0

    m["api.native_query.ms"] = _med(dur["api.native_query"])
    m["api.sql_query.ms"] = _med(dur["api.sql_query"])
    m["api.self_ms"] = _med(self_ms["api.native_query"]
                            + self_ms["api.sql_query"])
    m["api.result_rows"] = sum(result_rows.values()) / n_req

    stats = [group_stats[r] for r in by_rid if r in group_stats]
    ns = max(1, len(stats))
    m["spark.jobs_per_query"] = sum(s["jobs"] for s in stats) / ns
    m["spark.stages_per_query"] = sum(s["stages"] for s in stats) / ns
    m["spark.tasks_per_query"] = sum(s["tasks"] for s in stats) / ns
    m["spark.launch_wait_ms"] = _med(
        [w * 1000.0 for s in stats for w in s["launch_wait_s"]])
    m["spark.job_wall_ms"] = sum(
        covered(s["job_intervals"], float("-inf"), float("inf"))
        for s in stats) * 1000.0 / ns
    m["spark.executor_run_ms"] = sum(s["run_ms"] for s in stats) / ns
    m["spark.executor_cpu_ms"] = sum(s["cpu_ms"] for s in stats) / ns
    m["spark.gc_ms"] = sum(s["gc_ms"] for s in stats) / ns
    m["spark.input_bytes"] = sum(s["input_bytes"] for s in stats) / ns
    rows_out = sum(result_rows.get(r, 0) for r in by_rid if r in group_stats)
    m["spark.input_rows_per_result_row"] = \
        sum(s["input_rows"] for s in stats) / max(1, rows_out)
    m["spark.shuffle_write_bytes"] = \
        sum(s["shuffle_write_bytes"] for s in stats) / ns

    m["sources.ingest.ms"] = _med(dur["sources.ingest"])
    m["sources.read_input.ms"] = _med(dur["sources.read_input"])
    for op in ("gopher_quality", "fingerprint_dedup", "minhash_dedup"):
        m[f"pipeline.{op}.build_ms"] = _med(dur[f"pipeline.{op}.build"])
    return m
