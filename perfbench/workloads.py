"""The four workloads: set-up, the operation stream each client sends, and
the check of every answer.

Each workload calls the engine only through its public entry points:
``api.native_query``, ``api.sql_query``, ``sources.ingest.ingest`` and the
``pipeline`` functions, always through the module attribute so the traced
run's wrappers see the calls.  Operations are built before their clock
starts, and answers are checked after the timed region.
"""

from __future__ import annotations

import copy
import os
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

INPUT_SHARDS = 4


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    rows: int = 0              # input rows the operation covers
    check: Any = None          # what the workload's check needs
    more: bool = False         # the client's cycle goes on past the deadline
    #: operations of one block are traced together (see ``traced``); none:
    #: the block is the client's cycle
    block: int | None = None


@dataclass
class Result:
    op: Op
    start: float
    end: float
    answer: Any = None
    error: str | None = None
    rid: str | None = None     # set on traced requests
    outcome: str = "ok"        # ok | wrong | stale | error


def traced(op: Op, cycle: int) -> bool:
    """Whether the traced run traces ``op``, the ``cycle``-th cycle of its
    client: those of every other block.  A workload sets the blocks so that
    traced and untraced operations see the same mix of work and of cache
    states."""
    return (cycle if op.block is None else op.block) % 2 == 0


def write_shards(columns: dict, path: str, shards: int = INPUT_SHARDS) -> list[str]:
    """Generated rows → ``shards`` parquet files (one ingest task each)."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    n = table.num_rows
    files = []
    for k in range(shards):
        f = os.path.join(path, f"part-{k}.parquet")
        pq.write_table(table.slice(k * n // shards,
                                   (k + 1) * n // shards - k * n // shards), f)
        files.append(f)
    return files


def result_rows(answer) -> int:
    """Rows in a response: envelopes of native queries, rows of SQL."""
    if isinstance(answer, dict):  # curated shard: doc id -> dup count
        return len(answer)
    if not isinstance(answer, list):
        return 0
    n = 0
    for e in answer:
        if isinstance(e, dict) and isinstance(e.get("result"), list):
            n += len(e["result"])
        elif isinstance(e, dict) and "events" in e:
            n += len(e["events"])
        else:
            n += 1
    return n


class Workload:
    name = ""
    clients = 1
    #: operations each client sends, unmeasured, after warm_up; the
    #: measured window continues the same streams
    ramp_ops = 0
    #: whether what the set-up and the run stored is what the generator made
    stored_ok = True

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def setup(self, rep_dir: str) -> None:
        """One complete data set-up: generate the inputs and ingest them.
        Repeated; the last one is measured."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Run once after the last set-up: compile the code paths the
        stream uses."""

    def stream(self, client: int) -> Iterator[Op]:
        raise NotImplementedError

    def check(self, results: list[Result]) -> None:
        """Set ``outcome`` on every result."""
        raise NotImplementedError

    def report(self, results: list[Result]) -> dict[str, float]:
        """Workload-specific numbers, by the names the benchmark doc uses."""
        return {}


def _catalog(spark):
    from incubator_druid_spark.catalog import Catalog
    return Catalog(spark)


def _ingest(spark, spec, cat, base):
    from incubator_druid_spark.sources import ingest
    return ingest.ingest(spark, spec, cat, base)


def _query_op(spark, cat, q: gen.Query, rows: int,
              block: int | None = None) -> Op:
    from incubator_druid_spark import api
    body = copy.deepcopy(q.body)
    if q.kind == "sql":
        return Op("sql", lambda: api.sql_query(body, spark, cat), rows, q,
                  block=block)
    return Op(q.kind, lambda: api.native_query(body, spark, cat), rows, q,
              block=block)


def _check_queries(results: list[Result], table: pa.Table) -> None:
    con = duckdb.connect()
    try:
        con.register("rows", table)
        con.execute("CREATE VIEW foo_t AS SELECT epoch_ms(timestamp) AS "
                    "__time, * EXCLUDE (timestamp) FROM rows")
        verdict: dict[tuple[int, str], bool] = {}
        for r in results:
            if r.error is not None:
                r.outcome = "error"
                continue
            q = r.op.check
            # repeated answers to one query are usually identical: check
            # each distinct answer once
            key = (q.qid, repr(r.answer))
            if key not in verdict:
                verdict[key] = oracle.check_query(q, r.answer, con)
            r.outcome = "ok" if verdict[key] else "wrong"
    finally:
        con.close()


# ---------------------------------------------------------------------------


class Dashboard(Workload):
    """Closed loop, 4 clients, ~400 distinct queries drawn with Zipf weights
    over a 30-day basic-schema datasource; 3 in 10 queries are SQL; every
    query carries useCache/populateCache.  See gen.py for why."""

    name = "dashboard"
    clients = 4
    rows = 100_000
    # the stream's first queries meet new plan shapes and an empty result
    # cache.  Counted in queries, not seconds, so the caches hold the same
    # content when the window opens however fast the machine is.
    ramp_ops = 15

    def setup(self, rep_dir):
        cols = gen.basic_rows(self.seed, self.rows, gen.EPOCH_2024,
                              gen.DASHBOARD_DAYS * gen.DAY_MS)
        # one input file: one parquet file per day segment
        files = write_shards(cols, os.path.join(rep_dir, "input"), shards=1)
        self.cat = _catalog(self.spark)
        _ingest(self.spark, gen.basic_spec("basic", files), self.cat,
                os.path.join(rep_dir, "segments"))
        self.table = pa.table(cols)
        self.pool = gen.dashboard_pool(self.seed)
        # rows each query covers: those of its interval
        ts = np.sort(cols["timestamp"])
        self.covered = {}
        for q in (q for sub in self.pool.values() for q in sub):
            lo, hi = q.meta.get("interval", (ts[0], ts[-1] + 1))
            self.covered[q.qid] = int(np.searchsorted(ts, hi)
                                      - np.searchsorted(ts, lo))

    def stream(self, client):
        # a block is one round of DASHBOARD_SLOTS, so traced and untraced
        # requests of a client send the same kinds in the same proportions
        n = len(gen.DASHBOARD_SLOTS)
        for i, q in enumerate(gen.dashboard_stream(self.seed, client,
                                                   self.pool, 1 << 12)):
            yield _query_op(self.spark, self.cat, q, self.covered[q.qid],
                            i // n)

    def check(self, results):
        _check_queries(results, self.table)


class ScanHeavy(Workload):
    """One client cycling through SqlBenchmark's query list over a
    single-day basic-schema datasource, without cache context."""

    name = "scan_heavy"
    rows = 1_000_000

    def setup(self, rep_dir):
        cols = gen.basic_rows(self.seed, self.rows, gen.EPOCH_2000, gen.DAY_MS)
        files = write_shards(cols, os.path.join(rep_dir, "input"))
        self.cat = _catalog(self.spark)
        _ingest(self.spark, gen.basic_spec("foo", files), self.cat,
                os.path.join(rep_dir, "segments"))
        self.table = pa.table(cols)
        self.queries = gen.scan_queries()

    def warm_up(self):
        for q in self.queries:
            _query_op(self.spark, self.cat, q, 0).run()

    def stream(self, client):
        r = gen.rng_for(self.seed, 6)
        while True:
            for i in r.permutation(len(self.queries)):
                yield _query_op(self.spark, self.cat, self.queries[i],
                                self.rows)

    def check(self, results):
        _check_queries(results, self.table)


class IngestRead(Workload):
    """One client: append a batch (rolled up to minutes, day segments),
    then read the latest day through the result cache, twice over."""

    name = "ingest_read"
    batch_rows = 20_000
    read_rounds = 2

    def setup(self, rep_dir):
        self.start(rep_dir, _catalog(self.spark))
        for _ in range(gen.INGEST_BATCHES_PER_DAY):
            self._next_ingest().run()

    def start(self, rep_dir: str, cat) -> None:
        """An empty datasource and a fresh batch stream."""
        self.dir = rep_dir
        self.cat = cat
        self.tally = gen.IngestStream(self.seed, self.batch_rows)
        self.prev: dict[int, dict] = {}
        self.input_bytes = 0
        self.base = os.path.join(rep_dir, "segments")

    def warm_up(self):
        for kind, q in gen.ingest_reads(0):
            self._read(kind, q, 0).run()
        self.setup_files = self._table_files()

    def _answers(self, day: int) -> dict:
        return {"hours": self.tally.day_hours(day),
                "countries": self.tally.day_countries(day)}

    def _next_ingest(self) -> Op:
        day = self.tally.batches // gen.INGEST_BATCHES_PER_DAY
        self.prev[day] = self._answers(day)
        b = self.tally.next_batch()
        f = os.path.join(self.dir, "input", f"batch-{b.index}.parquet")
        os.makedirs(os.path.dirname(f), exist_ok=True)
        pq.write_table(pa.table(b.columns), f)
        self.input_bytes += os.path.getsize(f)
        spec = gen.ingest_spec("live", [f], append=b.index > 0)
        return Op("ingest", lambda: _ingest(self.spark, spec, self.cat,
                                            self.base), self.batch_rows,
                  b.index)

    def _read(self, kind: str, q: dict, day: int) -> Op:
        from incubator_druid_spark import api
        body = copy.deepcopy(q)
        return Op("read", lambda: api.native_query(body, self.spark, self.cat),
                  0, (kind, self._answers(day), self.prev.get(day)), block=day)

    def stream(self, client):
        # a cycle is one batch and the reads after it; a run ends on a
        # cycle boundary, so every run has the same mix of appends and reads.
        # A block is one day: the reads after its first batch miss the
        # result cache, those after a later batch hit it (stale), and the
        # traced run traces whole days so it sees both.
        while True:
            op = self._next_ingest()
            day = (self.tally.batches - 1) // gen.INGEST_BATCHES_PER_DAY
            op.more, op.block = True, day
            yield op
            reads = [self._read(kind, q, day) for _ in range(self.read_rounds)
                     for kind, q in gen.ingest_reads(day)]
            for read in reads[:-1]:
                read.more = True
            yield from reads

    @staticmethod
    def _expected(kind: str, facts: dict) -> list[tuple]:
        hours, countries = facts["hours"], facts["countries"]
        if kind == "hours":
            return [tuple(h) for h in hours]
        if kind == "total":
            return [(sum(h[1] for h in hours), sum(h[2] for h in hours))]
        return [(c, n, v) for c, (n, v) in countries.items()]

    def check(self, results):
        for r in results:
            if r.error is not None:
                r.outcome = "error"
                continue
            if r.op.kind == "ingest":
                continue
            kind, now, before = r.op.check
            qt = {"hours": "timeseries", "total": "timeseries",
                  "countries": "groupBy", "top": "topN"}[kind]
            got = oracle.rows_of(qt, r.answer)
            if kind == "hours":
                got = [(t, n, v) for t, n, v in got]
            elif kind == "total":
                got = [g[1:] for g in got]

            def right(facts):
                if facts is None:
                    return False
                want = self._expected("countries" if kind == "top" else kind,
                                      facts)
                if kind == "top":
                    return oracle.topn_ok(got, want, 3, 2)
                return oracle.same_rows(got, want)

            r.outcome = "ok" if right(now) else \
                "stale" if right(before) else "wrong"
        self.stored_ok = self._stored_rows() == self.tally.stored_rows

    def _table_files(self) -> list[str]:
        out = []
        for root, _, files in os.walk(os.path.join(self.base, "live")):
            out += [os.path.join(root, f) for f in files
                    if f.endswith(".parquet")]
        return out

    def _stored_rows(self) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in self._table_files())

    def report(self, results):
        files = self._table_files()
        stored = sum(os.path.getsize(f) for f in files)
        return {"sources.files_total": float(len(files)),
                "sources.files_written": float(len(files)
                                               - len(self.setup_files)),
                "sources.bytes_written": float(
                    stored - sum(os.path.getsize(f)
                                 for f in self.setup_files)),
                "sources.rollup_ratio": self.tally.input_rows
                / max(1, self.tally.stored_rows),
                "bytes_stored_per_input_byte": stored / self.input_bytes}


class Curation(Workload):
    """One client running gopher_quality → fingerprint_dedup →
    minhash_dedup over one corpus shard per operation; the operation
    returns the curated shard: the docs kept and their duplicate counts.

    Each shard is curated once, as in a real curation pass: minhash_dedup
    persists its signature frames, so a shard seen before reuses Spark's
    cached data and takes about half the time.  The first ``warm_shards``
    are the warm-up's: the chain's latency falls over the process's first
    passes as the JIT compiles it (on 1000-doc shards: 12.6 s cold, then
    4.6, 4.2, 3.8 s ...).  Shards are small, so a 15 s window holds 5-7
    passes: the chain's fixed cost (17 Spark jobs) is most of a pass."""

    name = "curation"
    docs_per_shard = 500
    warm_shards = 2
    shards = warm_shards + 14   # a 15 s window has made at most 10 passes

    def setup(self, rep_dir):
        self.corpus = gen.curation_corpus(
            self.seed, self.docs_per_shard * self.shards, self.shards)
        self.frames = []
        for k, s in enumerate(self.corpus):
            f = os.path.join(rep_dir, "corpus", f"shard-{k}.parquet")
            os.makedirs(os.path.dirname(f), exist_ok=True)
            pq.write_table(pa.table({"doc_id": s.ids, "text": s.texts}), f)
            self.frames.append(self.spark.read.parquet(f))

    def warm_up(self):
        for df in self.frames[:self.warm_shards]:
            self._chain(df)

    @staticmethod
    def _chain(df) -> dict[int, int]:
        from incubator_druid_spark.pipeline import dedup, text
        good = text.gopher_quality(df).filter("gopher_pass") \
            .select("doc_id", "text")
        groups = dedup.fingerprint_dedup(good, "text", "doc_id")
        survivors = good.join(groups.select("doc_id", "dup_count"), "doc_id")
        pairs = dedup.minhash_dedup(survivors, "doc_id", "text")
        kept = survivors.join(pairs.selectExpr("id_b AS doc_id"), "doc_id",
                              "left_anti")
        return {r[0]: r[1] for r in kept.select("doc_id", "dup_count").collect()}

    def stream(self, client):
        # past the shards made for it the stream starts over: a window that
        # long would time cached revisits
        while True:
            for k in range(self.warm_shards, self.shards):
                yield Op("chain", lambda k=k: self._chain(self.frames[k]),
                         len(self.corpus[k].ids), k)

    def check(self, results):
        self.found = self.planted = 0
        for r in results:
            if r.error is not None:
                r.outcome = "error"
                continue
            s = self.corpus[r.op.check]
            # near duplicates dropped: the later doc of each planted pair
            dropped = {b for _, b in s.near_pairs}
            want = {d: n for d, n in s.groups.items() if d not in dropped}
            self.found += len(dropped - set(r.answer))
            self.planted += len(dropped)
            r.outcome = "ok" if r.answer == want else "wrong"

    def report(self, results):
        return {"pipeline.dedup.planted_recall":
                self.found / self.planted if self.planted else 0.0}


WORKLOADS = {w.name: w for w in (Dashboard, ScanHeavy, IngestRead, Curation)}
