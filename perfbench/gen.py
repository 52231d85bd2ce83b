"""Seeded input generators for the four workloads.

Everything the engine receives is made here from one integer seed: the
rows of each datasource, the query pools and per-client query streams, the
ingest batches and the curation corpus.  The same seed yields identical
inputs and identical query sequences.  Nothing in this module imports
Spark, so it is unit-tested on its own.

Each generator also keeps the facts the correctness check needs (the tallies
of what was ingested, the planted duplicates, the DuckDB SQL that answers a
query), so answers are checked against the generator, never against the
engine itself.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
MINUTE_MS = 60_000
#: 2024-01-01T00:00:00Z, the first day of the dashboard and ingest data.
EPOCH_2024 = 1_704_067_200_000
#: 2000-01-01T00:00:00Z, the day SqlBenchmark's time filters address.
EPOCH_2000 = 946_684_800_000

CACHE_CONTEXT = {"useCache": True, "populateCache": True}


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts the numbers another stream draws."""
    return np.random.default_rng([seed, *stream])


def iso(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S.000Z")


def sql_ts(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------------------
# Druid's generator "basic" schema
# ---------------------------------------------------------------------------

BASIC_DIMS = ["dimSequential", "dimZipf", "dimUniform", "hyper"]
BASIC_METRICS = [
    {"type": "longSum", "name": "sumLongSequential",
     "fieldName": "sumLongSequential"},
    {"type": "longMax", "name": "maxLongUniform",
     "fieldName": "maxLongUniform"},
    {"type": "doubleSum", "name": "sumFloatNormal",
     "fieldName": "sumFloatNormal"},
]


def basic_rows(seed: int, n: int, start_ms: int, span_ms: int) -> dict:
    """Rows shaped like GeneratorBasicSchemas "basic" as SqlBenchmark uses
    it: a sequential, a log-uniform (Zipf-like, values 1..100) and a
    uniform string dimension, a high-cardinality dimension for COUNT
    DISTINCT, and long/float metrics.  Timestamps are uniform over
    [start_ms, start_ms + span_ms) in epoch millis."""
    r = rng_for(seed, 1)
    i = np.arange(n, dtype=np.int64)
    u = r.random(n)
    return {
        "timestamp": start_ms + r.integers(0, span_ms, n, dtype=np.int64),
        "dimSequential": (i % 1000).astype(str).astype(object),
        "dimZipf": np.floor(101.0 ** u).astype(np.int64).clip(1, 100)
                     .astype(str).astype(object),
        "dimUniform": r.integers(0, 1000, n).astype(str).astype(object),
        "hyper": r.integers(0, 100_000, n).astype(str).astype(object),
        "sumLongSequential": i % 10_000,
        "maxLongUniform": r.integers(0, 500, n, dtype=np.int64),
        "sumFloatNormal": r.standard_normal(n).astype(np.float32),
    }


def basic_spec(name: str, files: list[str], rollup: bool = False) -> dict:
    """Batch ingest spec for basic rows: day segments, no rollup (the
    reference benchmarks query unrolled rows)."""
    return {
        "dataSchema": {
            "dataSource": name,
            "timestampSpec": {"column": "timestamp", "format": "millis"},
            "dimensionsSpec": {"dimensions": BASIC_DIMS},
            "metricsSpec": BASIC_METRICS,
            "granularitySpec": {"segmentGranularity": "day",
                                "queryGranularity": "none",
                                "rollup": rollup},
        },
        "ioConfig": {"inputSource": {"type": "local", "files": files},
                     "inputFormat": {"type": "parquet"}},
    }


# ---------------------------------------------------------------------------
# dashboard: ~400 distinct queries, drawn with Zipf weights
# ---------------------------------------------------------------------------
#
# Why this workload: the fixed cost per query dominates.  Results are
# small, so translation, the result cache, catalog resolution and
# rendering in `api` are most of the work.  The pool is ~6x the engine's
# 64-entry result cache, so the Zipf head of each query kind hits the cache
# and the tail misses it.

DASHBOARD_DAYS = 30
DASHBOARD_POOL = 400
DASHBOARD_ZIPF_S = 1.0
#: the order a client sends query kinds in ("sql:n" is SQL shape n); SQL is
#: 3 in 10.  Each client cycles through it, so any window of a run holds
#: the same kind mix, whatever the seed (see dashboard_stream).
DASHBOARD_SLOTS = ["timeseries", "sql:0", "topN", "groupBy", "sql:1", "scan",
                   "timeseries", "search", "sql:2", "topN", "timeBoundary",
                   "groupBy", "sql:0", "timeseries", "topN", "sql:1",
                   "groupBy", "scan", "sql:2", "search"]
_GOLDEN = (5 ** 0.5 - 1) / 2
#: interval lengths in days, by rank within a kind.  Like every choice of
#: plan shape (filter or not, topN dimension and threshold) it is fixed by
#: rank, so the hot head has the same shapes for every seed; the seed picks
#: the literal values
DASHBOARD_LENGTHS = [1, 2, 3, 7, 14, 1, 3]
# dimZipf values common enough that every day of every interval has rows
_COMMON_ZIPF = [str(v) for v in range(1, 21)]


@dataclass
class Query:
    """One dashboard or benchmark query: what the client sends and how the
    oracle answers it."""
    qid: int
    kind: str            # native queryType, or "sql"
    body: dict           # request body for api.native_query / api.sql_query
    oracle: str          # DuckDB SQL over the generated rows (table "rows")
    check: str = "rows"  # "rows" exact multiset | "topn" | "approx"
    #: "interval": the [lo, hi) epoch-ms range the query covers (none:
    #: the whole datasource); topN: "dim", "k", "metric"
    meta: dict = field(default_factory=dict)


def _interval(r, rank: int):
    length = DASHBOARD_LENGTHS[rank % len(DASHBOARD_LENGTHS)]
    d0 = int(r.integers(0, DASHBOARD_DAYS - length + 1))
    lo = EPOCH_2024 + d0 * DAY_MS
    return lo, lo + length * DAY_MS


def _native_query(qid: int, rank: int, kind: str, r) -> Query:
    lo, hi = _interval(r, rank)
    span = {"interval": (lo, hi)}
    where = f"timestamp >= {lo} AND timestamp < {hi}"
    base = {"queryType": kind, "dataSource": "basic",
            "intervals": [f"{iso(lo)}/{iso(hi)}"],
            "context": dict(CACHE_CONTEXT)}
    z = str(r.choice(_COMMON_ZIPF))
    if kind == "timeseries":
        filt = rank % 2 == 1
        body = dict(base, granularity="day", aggregations=[
            {"type": "count", "name": "rows"},
            {"type": "longSum", "name": "sls", "fieldName": "sumLongSequential"},
            {"type": "doubleSum", "name": "sfn", "fieldName": "sumFloatNormal"}])
        if filt:
            body["filter"] = {"type": "selector", "dimension": "dimZipf",
                              "value": z}
            where += f" AND dimZipf = '{z}'"
        oracle = (f"SELECT timestamp // {DAY_MS} * {DAY_MS}, count(*), "
                  f"sum(sumLongSequential), sum(sumFloatNormal) FROM rows "
                  f"WHERE {where} GROUP BY 1")
        return Query(qid, kind, body, oracle, meta=span)
    if kind == "topN":
        dim = ("dimZipf", "dimUniform")[rank % 2]
        k = (5, 10, 20)[rank % 3]
        body = dict(base, granularity="all", dimension=dim, metric="rows",
                    threshold=k, aggregations=[
                        {"type": "count", "name": "rows"},
                        {"type": "longSum", "name": "sls",
                         "fieldName": "sumLongSequential"}])
        oracle = (f"SELECT {dim}, count(*), sum(sumLongSequential) FROM rows "
                  f"WHERE {where} GROUP BY 1")
        return Query(qid, kind, body, oracle, "topn",
                     {"dim": dim, "k": k, "metric": "rows", **span})
    if kind == "groupBy":
        u = [str(v) for v in r.choice(1000, 5, replace=False)]
        body = dict(base, granularity="all", dimensions=["dimZipf"],
                    filter={"type": "in", "dimension": "dimUniform",
                            "values": u},
                    aggregations=[
                        {"type": "count", "name": "rows"},
                        {"type": "longMax", "name": "mlu",
                         "fieldName": "maxLongUniform"},
                        {"type": "doubleSum", "name": "sfn",
                         "fieldName": "sumFloatNormal"}])
        inlist = ", ".join(f"'{v}'" for v in u)
        oracle = (f"SELECT dimZipf, count(*), max(maxLongUniform), "
                  f"sum(sumFloatNormal) FROM rows WHERE {where} AND "
                  f"dimUniform IN ({inlist}) GROUP BY 1")
        return Query(qid, kind, body, oracle, meta=span)
    if kind == "scan":
        u = str(r.integers(0, 1000))
        body = dict(base, columns=["dimZipf", "dimUniform",
                                   "sumLongSequential"],
                    filter={"type": "selector", "dimension": "dimUniform",
                            "value": u}, limit=1000)
        oracle = (f"SELECT dimZipf, dimUniform, sumLongSequential FROM rows "
                  f"WHERE {where} AND dimUniform = '{u}'")
        return Query(qid, kind, body, oracle, meta=span)
    if kind == "search":
        needle = str(r.integers(1, 10))
        body = dict(base, granularity="all", searchDimensions=["dimZipf"],
                    query={"type": "contains", "value": needle})
        oracle = (f"SELECT 'dimZipf', dimZipf, count(*) FROM rows "
                  f"WHERE {where} AND contains(dimZipf, '{needle}') "
                  f"GROUP BY 2")
        return Query(qid, kind, body, oracle, meta=span)
    if kind == "timeBoundary":
        v = str(r.integers(1, 101))
        body = {"queryType": "timeBoundary", "dataSource": "basic",
                "filter": {"type": "selector", "dimension": "dimZipf",
                           "value": v},
                "context": dict(CACHE_CONTEXT)}
        oracle = (f"SELECT min(timestamp), max(timestamp) FROM rows "
                  f"WHERE dimZipf = '{v}'")
        return Query(qid, kind, body, oracle)
    raise ValueError(kind)


def _sql_query(qid: int, rank: int, shape: int, r) -> Query:
    lo, hi = _interval(r, rank)
    where = (f"__time >= TIMESTAMP '{sql_ts(lo)}' AND "
             f"__time < TIMESTAMP '{sql_ts(hi)}'")
    owhere = f"timestamp >= {lo} AND timestamp < {hi}"
    z = str(r.choice(_COMMON_ZIPF))
    if shape == 0:
        u = str(r.integers(0, 1000))
        k = (5, 10)[rank % 2]
        sql = (f"SELECT dimZipf, COUNT(*) AS c, SUM(sumLongSequential) AS s "
               f"FROM basic WHERE {where} AND dimUniform <> '{u}' "
               f"GROUP BY dimZipf ORDER BY c DESC, dimZipf LIMIT {k}")
        oracle = (f"SELECT dimZipf, count(*) AS c, sum(sumLongSequential) "
                  f"FROM rows WHERE {owhere} AND dimUniform <> '{u}' "
                  f"GROUP BY dimZipf ORDER BY c DESC, dimZipf LIMIT {k}")
    elif shape == 1:
        sql = (f"SELECT FLOOR(__time TO DAY) AS d, COUNT(*) AS c, "
               f"SUM(sumFloatNormal) AS f FROM basic WHERE {where} "
               f"AND dimZipf = '{z}' GROUP BY 1")
        oracle = (f"SELECT timestamp // {DAY_MS} * {DAY_MS}, count(*), "
                  f"sum(sumFloatNormal) FROM rows WHERE {owhere} "
                  f"AND dimZipf = '{z}' GROUP BY 1")
    else:
        sql = (f"SELECT COUNT(*) AS c, SUM(sumLongSequential) AS s, "
               f"MAX(maxLongUniform) AS m FROM basic WHERE {where} "
               f"AND dimZipf = '{z}'")
        oracle = (f"SELECT count(*), sum(sumLongSequential), "
                  f"max(maxLongUniform) FROM rows WHERE {owhere} "
                  f"AND dimZipf = '{z}'")
    body = {"query": sql, "resultFormat": "array",
            "context": dict(CACHE_CONTEXT)}
    return Query(qid, "sql", body, oracle, meta={"interval": (lo, hi)})


def dashboard_pool(seed: int, size: int = DASHBOARD_POOL) -> dict[str, list[Query]]:
    """``size`` distinct queries, per slot kind in Zipf rank order; each
    kind holds queries in proportion to its share of DASHBOARD_SLOTS."""
    r = rng_for(seed, 2)
    pool: dict[str, list[Query]] = {k: [] for k in DASHBOARD_SLOTS}
    seen: set[str] = set()
    qid = 0
    while qid < size:
        slot = DASHBOARD_SLOTS[qid % len(DASHBOARD_SLOTS)]
        kind, _, shape = slot.partition(":")
        rank = len(pool[slot])
        q = _sql_query(qid, rank, int(shape), r) if kind == "sql" \
            else _native_query(qid, rank, kind, r)
        if repr(q.body) not in seen:  # distinct queries: the pool is the key set
            seen.add(repr(q.body))
            pool[slot].append(q)
            qid += 1
    return pool


def dashboard_stream(seed: int, client: int, pool: dict[str, list[Query]],
                     length: int, s: float = DASHBOARD_ZIPF_S) -> list[Query]:
    """The queries a client sends: kinds in DASHBOARD_SLOTS order (each
    client starts at another offset), and within a kind the query of rank
    i with frequency proportional to 1/(i+1)^s.

    Ranks come from a golden-ratio sequence mapped through the Zipf CDF, not
    from independent draws, and its start depends on the client and the
    kind but not on the seed: every run then sends the same ranks in the
    same order, so the share of cache misses in a 15 s window does not
    vary with the seed (with independent draws it moved throughput by
    about 30 % between runs).  The seed draws the queries themselves."""
    r = rng_for(0, 3, client)
    start = {k: r.random() for k in pool}
    drawn = dict.fromkeys(pool, 0)
    cdf = {}
    for k, sub in pool.items():
        w = np.cumsum(1.0 / np.arange(1, len(sub) + 1) ** s)
        cdf[k] = w / w[-1]
    n = len(DASHBOARD_SLOTS)
    out = []
    for p in range(length):
        k = DASHBOARD_SLOTS[(p + client * n // 4) % n]
        u = (start[k] + drawn[k] * _GOLDEN) % 1.0
        drawn[k] += 1
        out.append(pool[k][int(np.searchsorted(cdf[k], u, side="right"))])
    return out


# ---------------------------------------------------------------------------
# scan_heavy: the reference's SqlBenchmark query list
# ---------------------------------------------------------------------------
#
# Why this workload: every query reads the whole table, so Spark execution
# dominates and planning is a small share.  No cache context is set.  A
# planning or cache optimisation should show no change here.

_MATRIX = "WITH matrix (dimZipf, dimSequential) AS (\n" + "\nUNION ALL\n".join(
    f"  (SELECT '{z}', dimSequential\n"
    f"   FROM (SELECT * FROM foo WHERE dimUniform != 1)\n"
    f"   WHERE dimZipf = '{z}' GROUP BY dimSequential)"
    for z in range(10, 101, 10)) + "\n) SELECT * FROM matrix"

_FILTERED = ", ".join(
    f"{agg} FILTER(WHERE dimSequential {cond})" for agg in
    ("SUM(sumLongSequential)", "SUM(sumFloatNormal)", "COUNT(*)")
    for cond in ("= '311'", "<> '311'", "LIKE '%3'", "NOT LIKE '%3'"))

#: SqlBenchmark.java queries 0-19 (benchmarks/.../query/SqlBenchmark.java),
#: as transcribed in the repository's root bench.py
SQLBENCH = [
    "SELECT COUNT(*) FROM foo",
    "SELECT COUNT(DISTINCT hyper) FROM foo",
    "SELECT SUM(sumLongSequential), SUM(sumFloatNormal) FROM foo",
    "SELECT FLOOR(__time TO MINUTE), SUM(sumLongSequential), "
    "SUM(sumFloatNormal) FROM foo GROUP BY 1",
    "SELECT SUM(sumLongSequential), SUM(sumFloatNormal) FROM foo "
    "WHERE dimSequential NOT LIKE '%3'",
    "SELECT SUM(sumLongSequential), SUM(sumFloatNormal) FROM foo "
    "WHERE dimSequential = '311'",
    "SELECT SUM(sumLongSequential), SUM(sumFloatNormal) FROM foo "
    "WHERE dimSequential NOT LIKE '%3' AND maxLongUniform > 10",
    "SELECT SUM(sumLongSequential) FILTER(WHERE dimSequential = '311'), "
    "SUM(sumFloatNormal) FROM foo WHERE dimSequential NOT LIKE '%3'",
    f"SELECT {_FILTERED} FROM foo",
    "SELECT SUM(sumLongSequential) FILTER(WHERE __time >= TIMESTAMP "
    "'2000-01-01 00:00:00' AND __time < TIMESTAMP '2000-01-01 12:00:00'), "
    "SUM(sumLongSequential) FILTER(WHERE __time >= TIMESTAMP "
    "'2000-01-01 12:00:00' AND __time < TIMESTAMP '2000-01-02 00:00:00') "
    "FROM foo WHERE __time >= TIMESTAMP '2000-01-01 00:00:00' "
    "AND __time < TIMESTAMP '2000-01-02 00:00:00'",
    "SELECT dimSequential, dimZipf, SUM(sumLongSequential) FROM foo "
    "GROUP BY 1, 2",
    "SELECT dimSequential, dimZipf, SUM(sumLongSequential), COUNT(*) "
    "FROM foo GROUP BY 1, 2",
    "SELECT dimZipf FROM foo GROUP BY 1",
    "SELECT dimZipf, COUNT(*) FROM foo GROUP BY 1 ORDER BY COUNT(*) DESC",
    "SELECT dimZipf, SUM(sumLongSequential), COUNT(*) FROM foo "
    "GROUP BY 1 ORDER BY COUNT(*) DESC",
    "SELECT maxLongUniform FROM foo GROUP BY 1",
    "SELECT maxLongUniform, SUM(sumLongSequential), COUNT(*) FROM foo "
    "GROUP BY 1",
    "SELECT maxLongUniform FROM foo WHERE maxLongUniform > 10 GROUP BY 1",
    "SELECT maxLongUniform, SUM(sumLongSequential), COUNT(*) FROM foo "
    "WHERE maxLongUniform > 10 GROUP BY 1",
    _MATRIX,
]


def _to_duckdb(sql: str) -> str:
    """The same statement in DuckDB's dialect over the generated rows:
    __time is derived from the millis column, FLOOR(... TO MINUTE) becomes
    date_trunc, and the string-vs-number comparison casts explicitly."""
    sql = sql.replace("FLOOR(__time TO MINUTE)", "date_trunc('minute', __time)")
    sql = sql.replace("dimUniform != 1", "CAST(dimUniform AS INTEGER) != 1")
    return sql.replace("FROM foo", "FROM foo_t")


def scan_queries() -> list[Query]:
    out = []
    for i, sql in enumerate(SQLBENCH):
        body = {"query": sql, "resultFormat": "array"}
        # COUNT(DISTINCT) is approximate by default in Druid SQL
        check = "approx" if "COUNT(DISTINCT" in sql else "rows"
        out.append(Query(i, "sql", body, _to_duckdb(sql), check))
    return out


# ---------------------------------------------------------------------------
# ingest_read: appends with rollup beside cached reads
# ---------------------------------------------------------------------------
#
# Why this workload: writes beside reads on one datasource.  Each batch
# rolls up to minute granularity into day segments with a planted share of
# duplicate (minute, dims) keys; the reads after it use the result cache
# and fit in it (< 64 distinct queries).  Two batches land in each day, so
# the second batch appends to a day whose reads are already cached: that
# is the freshness probe.

INGEST_COUNTRIES = [f"c{i:02d}" for i in range(12)]
INGEST_DEVICES = ["desktop", "phone", "tablet", "tv", "watch"]
INGEST_BATCHES_PER_DAY = 2
INGEST_DUP_SHARE = 0.25


@dataclass
class IngestBatch:
    index: int
    day: int                 # day offset from EPOCH_2024
    columns: dict            # raw rows, as written to the input file
    distinct_keys: int       # rows this batch stores after rollup


class IngestStream:
    """Seeded batch stream plus the running tallies that answer every read.

    Tallies hold what has been ingested so far, so a read's expected answer
    is known without asking the engine."""

    def __init__(self, seed: int, batch_rows: int):
        self.seed = seed
        self.batch_rows = batch_rows
        self.batches = 0
        self.hourly: dict[int, list[int]] = {}     # hour ms -> [rows, value]
        self.country: dict[tuple, list[int]] = {}  # (day, c) -> [rows, value]
        self.stored_rows = 0
        self.input_rows = 0

    def next_batch(self) -> IngestBatch:
        i = self.batches
        self.batches += 1
        day = i // INGEST_BATCHES_PER_DAY
        r = rng_for(self.seed, 4, i)
        n = self.batch_rows
        n_dup = int(round(n * INGEST_DUP_SHARE))
        n_key = n - n_dup
        space = 1440 * len(INGEST_COUNTRIES) * len(INGEST_DEVICES)
        keys = r.choice(space, size=n_key, replace=False)
        keys = np.concatenate([keys, r.choice(keys, size=n_dup)])
        r.shuffle(keys)
        minute = keys // (len(INGEST_COUNTRIES) * len(INGEST_DEVICES))
        c = (keys // len(INGEST_DEVICES)) % len(INGEST_COUNTRIES)
        d = keys % len(INGEST_DEVICES)
        ts = (EPOCH_2024 + day * DAY_MS + minute * MINUTE_MS
              + r.integers(0, MINUTE_MS, n))
        value = r.integers(1, 1000, n, dtype=np.int64)
        cols = {"ts": ts.astype(np.int64),
                "country": np.array(INGEST_COUNTRIES, dtype=object)[c],
                "device": np.array(INGEST_DEVICES, dtype=object)[d],
                "value": value}
        for h, v in zip(ts // HOUR_MS * HOUR_MS, value):
            t = self.hourly.setdefault(int(h), [0, 0])
            t[0] += 1
            t[1] += int(v)
        for cc, v in zip(c, value):
            t = self.country.setdefault((day, INGEST_COUNTRIES[cc]), [0, 0])
            t[0] += 1
            t[1] += int(v)
        self.stored_rows += n_key
        self.input_rows += n
        return IngestBatch(i, day, cols, n_key)

    def day_hours(self, day: int) -> list[tuple[int, int, int]]:
        lo = EPOCH_2024 + day * DAY_MS
        return sorted((h, t[0], t[1]) for h, t in self.hourly.items()
                      if lo <= h < lo + DAY_MS)

    def day_countries(self, day: int) -> dict[str, tuple[int, int]]:
        return {c: tuple(t) for (d, c), t in self.country.items() if d == day}


def ingest_spec(name: str, files: list[str], append: bool) -> dict:
    return {
        "dataSchema": {
            "dataSource": name,
            "timestampSpec": {"column": "ts", "format": "millis"},
            "dimensionsSpec": {"dimensions": ["country", "device"]},
            "metricsSpec": [{"type": "count", "name": "cnt"},
                            {"type": "longSum", "name": "value",
                             "fieldName": "value"}],
            "granularitySpec": {"segmentGranularity": "day",
                                "queryGranularity": "minute",
                                "rollup": True},
        },
        "ioConfig": {"inputSource": {"type": "local", "files": files},
                     "inputFormat": {"type": "parquet"},
                     "appendToExisting": append},
    }


def ingest_reads(day: int) -> list[tuple[str, dict]]:
    """The cached reads a client runs over the latest day after a batch:
    (kind, native query).  Kinds: "hours" answers from the hourly tally,
    "countries" from the per-country tally, "total" from both."""
    lo = EPOCH_2024 + day * DAY_MS
    base = {"dataSource": "live", "intervals": [f"{iso(lo)}/{iso(lo + DAY_MS)}"],
            "context": dict(CACHE_CONTEXT)}
    sums = [{"type": "longSum", "name": "rows", "fieldName": "cnt"},
            {"type": "longSum", "name": "value", "fieldName": "value"}]
    return [
        ("hours", dict(base, queryType="timeseries", granularity="hour",
                       aggregations=sums)),
        ("total", dict(base, queryType="timeseries", granularity="all",
                       aggregations=sums)),
        ("countries", dict(base, queryType="groupBy", granularity="all",
                           dimensions=["country"], aggregations=sums)),
        ("top", dict(base, queryType="topN", granularity="all",
                     dimension="country", metric="value", threshold=3,
                     aggregations=sums)),
    ]


# ---------------------------------------------------------------------------
# curation: a corpus with planted low-quality docs, exact and near duplicates
# ---------------------------------------------------------------------------
#
# Why this workload: the `pipeline` package is the largest part of the
# engine and is heavy on shuffles and hashing, unlike the query workloads.

CURATION_STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "with",
                      "for", "was"]
_SYLLABLES = ["ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "pi", "na",
              "qua", "zet", "ful", "bri", "mon", "ta", "ger", "lin", "os",
              "ven"]
CURATION_LOW_SHARE = 0.08
CURATION_EXACT_SHARE = 0.08
CURATION_NEAR_SHARE = 0.08
JACCARD_THRESHOLD = 0.8
_NON_ALNUM = {c: " " for c in range(128)
              if not chr(c).isascii() or not chr(c).isalnum()}


def normalize(text: str) -> str:
    """pipeline.text.normalize_text for ASCII text: lowercase, each run of
    characters other than [a-z0-9] to one space, trimmed."""
    return " ".join(text.lower().translate(_NON_ALNUM).split())


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word 3-gram set of the normalized text, as pipeline.dedup defines it."""
    toks = normalize(text).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


@dataclass
class Shard:
    ids: list[int]
    texts: list[str]
    low_quality: set[int]              # fail the Gopher word-count rule
    groups: dict[int, int]             # fingerprint survivor -> group size
    near_pairs: set[tuple[int, int]]   # (id_a < id_b) with Jaccard >= 0.8


def curation_corpus(seed: int, n_docs: int, shards: int) -> list[Shard]:
    """``shards`` shards of ``n_docs / shards`` docs each.  Good docs have
    80-160 words of 4-8 letters with stopwords and pass every Gopher rule;
    low-quality docs have 10-40 words and fail the 50-word floor.  Exact
    duplicates differ from their original only in case and punctuation
    (same normalized fingerprint); near duplicates replace one word.
    Copies get higher ids than their original, so the original survives
    fingerprint dedup."""
    r = rng_for(seed, 5)
    vocab = sorted({"".join(r.choice(_SYLLABLES, size=int(r.integers(2, 4))))
                    for _ in range(4000)})
    vocab = np.array([w for w in vocab if 4 <= len(w) <= 8], dtype=object)
    stop = np.array(CURATION_STOPWORDS, dtype=object)
    per = n_docs // shards
    out = []
    next_id = 0
    for _ in range(shards):
        n_low = int(per * CURATION_LOW_SHARE)
        n_exact = int(per * CURATION_EXACT_SHARE)
        n_near = int(per * CURATION_NEAR_SHARE)
        n_good = per - n_low - n_exact - n_near
        texts: list[str] = []

        def words(k):
            w = vocab[r.integers(0, len(vocab), k)]
            w[::7] = stop[r.integers(0, len(stop), len(w[::7]))]
            w[1], w[3] = "the", "and"
            return w

        for _ in range(n_good):
            texts.append(" ".join(words(int(r.integers(80, 161)))) + ".")
        for _ in range(n_low):
            texts.append(" ".join(words(int(r.integers(10, 41)))) + ".")
        originals = r.choice(n_good, size=n_exact + n_near, replace=True)
        families: dict[int, list[int]] = {}
        for o in originals[:n_exact]:
            t = texts[o].upper() if r.integers(0, 2) else \
                texts[o].replace(" ", ",  ", 3)
            texts.append(t)
        for o in originals[n_exact:]:
            w = texts[o][:-1].split(" ")
            j = int(r.integers(0, len(w)))
            w[j] = next(v for v in vocab[r.integers(0, 50, 4)] if v != w[j])
            texts.append(" ".join(w) + ".")
            families.setdefault(int(o), []).append(len(texts) - 1)
        ids = list(range(next_id, next_id + len(texts)))
        low = set(range(n_good, n_good + n_low))
        # truth from the texts themselves: group by normalized text, the
        # min id survives; near pairs are survivors of one family whose
        # exact shingle Jaccard reaches the threshold
        groups: dict[str, list[int]] = {}
        for k, t in enumerate(texts):
            if k not in low:
                groups.setdefault(normalize(t), []).append(k)
        survivor = {k: g[0] for g in groups.values() for k in g}
        near: set[tuple[int, int]] = set()
        for o, copies in families.items():
            fam = sorted({survivor[k] for k in [o] + copies})
            for a in range(len(fam)):
                for b in range(a + 1, len(fam)):
                    x, y = fam[a], fam[b]
                    if jaccard(texts[x], texts[y]) >= JACCARD_THRESHOLD:
                        near.add((ids[x], ids[y]))
        out.append(Shard(
            ids, texts, {ids[k] for k in low},
            {ids[g[0]]: len(g) for g in groups.values()},
            near))
        next_id += len(texts)
    return out
