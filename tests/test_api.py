"""API surface tests: native/SQL endpoints, result formats, timewarp."""

import json

import pytest


def test_native_timeseries_envelope(spark, foo_catalog):
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "timeseries", "dataSource": "foo", "granularity": "year",
        "intervals": ["2000-01-01T00:00:00Z/2002-01-01T00:00:00Z"],
        "aggregations": [{"type": "longSum", "name": "cnt", "fieldName": "cnt"}],
    }, spark, foo_catalog)
    assert len(out) == 2
    assert out[0]["result"]["cnt"] == 3
    assert out[0]["timestamp"].startswith("2000-01-01")


def test_native_groupby_envelope(spark, foo_catalog):
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "groupBy", "dataSource": "foo", "granularity": "all",
        "dimensions": ["dim1"],
        "aggregations": [{"type": "count", "name": "cnt"}],
    }, spark, foo_catalog)
    assert len(out) == 6
    assert all(o["version"] == "v1" and "dim1" in o["event"] for o in out)


def test_native_search_topn_bucket_envelopes(spark, foo_catalog):
    """TopNResultValue / SearchResultValue: one {timestamp, result:[...]}
    envelope PER time bucket."""
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "topN", "dataSource": "foo", "granularity": "year",
        "intervals": ["2000-01-01T00:00:00Z/2002-01-01T00:00:00Z"],
        "dimension": "dim1", "metric": "cnt", "threshold": 2,
        "aggregations": [{"type": "longSum", "name": "cnt", "fieldName": "cnt"}],
    }, spark, foo_catalog)
    assert len(out) == 2                       # one envelope per year bucket
    assert all(len(o["result"]) == 2 for o in out)
    assert out[0]["timestamp"] != out[1]["timestamp"]

    s = native_query({
        "queryType": "search", "dataSource": "foo",
        "searchDimensions": ["dim1"],
        "query": {"type": "insensitive_contains", "value": "b"},
    }, spark, foo_catalog)
    assert len(s) == 1 and {"dimension": "dim1", "value": "abc", "count": 1} \
        in s[0]["result"]


def test_native_scan_envelope(spark, foo_catalog):
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "scan", "dataSource": "foo", "columns": ["dim1", "m2"],
        "limit": 3, "order": "ascending",
    }, spark, foo_catalog)
    assert out[0]["columns"] == ["dim1", "m2"]
    assert len(out[0]["events"]) == 3


def test_lookup_admin_api(spark, foo_catalog):
    """/druid/v1/lookups admin surface: register over HTTP, list, fetch,
    then use the lookup from a native query (LookupCoordinatorResource)."""
    import http.server
    import threading
    import urllib.request

    from incubator_druid_spark.server import make_handler
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), make_handler(spark, foo_catalog))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        req = urllib.request.Request(
            f"{base}/druid/v1/lookups/country_map",
            data=json.dumps({"abc": "Abyssinia", "def": "Denmark"}).encode(),
            headers={"Content-Type": "application/json"})
        assert urllib.request.urlopen(req).status == 202
        names = json.loads(urllib.request.urlopen(
            f"{base}/druid/v1/lookups").read())
        assert "country_map" in names
        m = json.loads(urllib.request.urlopen(
            f"{base}/druid/v1/lookups/country_map").read())
        assert m["def"] == "Denmark"

        q = {"queryType": "groupBy", "dataSource": "foo", "granularity": "all",
             "dimensions": [{"type": "extraction", "dimension": "dim1",
                             "outputName": "country",
                             "extractionFn": {"type": "registeredLookup",
                                              "lookup": "country_map"}}],
             "filter": {"type": "in", "dimension": "dim1",
                        "values": ["abc", "def"]},
             "aggregations": [{"type": "count", "name": "cnt"}]}
        req2 = urllib.request.Request(
            f"{base}/druid/v2", data=json.dumps(q).encode(),
            headers={"Content-Type": "application/json"})
        out = json.loads(urllib.request.urlopen(req2).read())
        got = {o["event"]["country"] for o in out}
        assert got == {"Abyssinia", "Denmark"}
    finally:
        srv.shutdown()


def test_sql_result_formats(spark, foo_catalog):
    from incubator_druid_spark.api import sql_query
    base = {"query": "SELECT dim1, m2 FROM foo WHERE m2 <= 2 ORDER BY m2"}
    obj = sql_query(base, spark, foo_catalog)
    assert obj == [{"dim1": "", "m2": 1.0}, {"dim1": "10.1", "m2": 2.0}]
    arr = sql_query({**base, "resultFormat": "array", "header": True},
                    spark, foo_catalog)
    assert arr[0] == ["dim1", "m2"] and arr[1] == ["", 1.0]
    csv_out = sql_query({**base, "resultFormat": "csv", "header": True},
                        spark, foo_catalog)
    assert csv_out.splitlines()[0] == "dim1,m2"
    lines = sql_query({**base, "resultFormat": "objectLines"},
                      spark, foo_catalog)
    assert json.loads(lines.splitlines()[0])["m2"] == 1.0


def test_sql_parameters(spark, foo_catalog):
    from incubator_druid_spark.api import sql_query
    out = sql_query({"query": "SELECT count(*) AS c FROM foo WHERE dim1 = ?",
                     "parameters": [{"type": "VARCHAR", "value": "abc"}]},
                    spark, foo_catalog)
    assert out == [{"c": 1}]
    # quote-awareness: '?' inside a string literal is data, not a placeholder;
    # embedded quotes in a bound string are doubled, NULL binds as NULL
    out = sql_query({"query": "SELECT count(*) AS c FROM foo "
                              "WHERE dim1 <> '?' AND dim1 = ? AND ? IS NULL",
                     "parameters": [{"type": "VARCHAR", "value": "abc"},
                                    {"type": "VARCHAR", "value": None}]},
                    spark, foo_catalog)
    assert out == [{"c": 1}]


def test_sql_time_zone_context(spark, foo_catalog):
    """context.sqlTimeZone (PlannerContext CTX_SQL_TIME_ZONE): FLOOR-to-day
    buckets in the given zone. foo rows are at 2000-01-01..03 00:00 UTC, so
    in Asia/Tokyo (UTC+9) they stay on the same dates, but in
    America/Los_Angeles (UTC-8) they land on the previous day."""
    from incubator_druid_spark.api import sql_query
    q = {"query": "SELECT FLOOR(__time TO DAY) AS d, count(*) AS c FROM foo "
                  "GROUP BY 1 ORDER BY 1 LIMIT 1"}
    la = sql_query({**q, "context": {"sqlTimeZone": "America/Los_Angeles"}},
                   spark, foo_catalog)
    assert la[0]["d"].startswith("1999-12-31")
    utc = sql_query(q, spark, foo_catalog)
    assert utc[0]["d"].startswith("2000-01-01")
    # session timezone restored after the contextual query
    assert spark.conf.get("spark.sql.session.timeZone") != "America/Los_Angeles"


def test_timewarp_shifts_intervals(spark, foo_catalog):
    from incubator_druid_spark.api import timewarp
    week = 7 * 86_400_000
    q = {"queryType": "timeseries", "dataSource": "foo",
         "intervals": ["2001-01-01T00:00:00Z/2001-01-08T00:00:00Z"]}
    warped = timewarp(q, week, 0)
    # with origin=epoch the interval lands in the first week window,
    # preserving position-within-period (TimewarpOperator.computeOffset)
    s, _, e = warped["intervals"][0].partition("/")
    assert s.startswith("1970-01-0") and s < e


def spark_jobs(spark, fn):
    """(fn(), the number of Spark jobs fn submitted) — counted under a
    job group set on the calling thread."""
    import uuid
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_result_cache_and_scheduling_context(spark, catalog):
    """useCache/populateCache result-level cache (ResultLevelCachingQueryRunner
    analogue) + lane/priority → scheduler pool."""
    from incubator_druid_spark.api import native_query
    from incubator_druid_spark.plans import cache as qcache

    qcache.clear()
    q = {"queryType": "timeseries", "dataSource": "events", "granularity": "all",
         "aggregations": [{"type": "count", "name": "cnt"}],
         "context": {"useCache": True, "populateCache": True, "priority": 5}}
    first, jobs = spark_jobs(spark, lambda: native_query(q, spark, catalog))
    assert jobs > 0 and first[0]["result"]["cnt"] > 0
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") == "high"

    # the same query (cache directives and priority aside) is a hit: an
    # equal response, no Spark job
    again, jobs = spark_jobs(spark, lambda: native_query(
        dict(q, context={"useCache": True}), spark, catalog))
    assert again == first and jobs == 0

    # different query (same shape, different agg name) → miss, translated
    # under the low pool
    miss, jobs = spark_jobs(spark, lambda: native_query(
        {**q, "aggregations": [{"type": "count", "name": "c2"}],
         "context": {"useCache": True, "priority": -1}}, spark, catalog))
    assert jobs > 0
    assert miss[0]["result"] == {"c2": first[0]["result"]["cnt"]}
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") == "low"
    qcache.clear()


def _cached(q: dict) -> dict:
    return {**q, "context": {"useCache": True, "populateCache": True}}


def test_result_cache_fresh_after_ingest_append(spark, tmp_path):
    """An append through sources.ingest re-registers the datasource, which
    moves the catalog version in the cache key: the cached query re-run
    after it answers over the appended rows."""
    from incubator_druid_spark.api import native_query
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.sources.ingest import ingest

    cat = Catalog(spark)

    def append(fname, line):
        (tmp_path / fname).write_text(line)
        ingest(spark, {
            "dataSchema": {
                "dataSource": "appended",
                "timestampSpec": {"column": "d", "format": "auto"},
                "dimensionsSpec": {"dimensions": ["site"]},
                "metricsSpec": [{"type": "longSum", "name": "v_sum",
                                 "fieldName": "v"}],
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "day",
                                    "rollup": True}},
            "ioConfig": {"inputSource": {"type": "local",
                                         "files": [str(tmp_path / fname)]},
                         "inputFormat": {"type": "csv",
                                         "columns": ["d", "site", "v"]},
                         "appendToExisting": True}},
            cat, str(tmp_path / "seg"))

    q = _cached({"queryType": "timeseries", "dataSource": "appended",
                 "granularity": "all",
                 "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
                 "aggregations": [{"type": "longSum", "name": "v",
                                   "fieldName": "v_sum"}]})
    append("a.csv", "2024-01-01,x,1\n")
    assert native_query(q, spark, cat)[0]["result"]["v"] == 1
    assert native_query(q, spark, cat)[0]["result"]["v"] == 1  # a hit
    append("b.csv", "2024-01-01,y,2\n")
    assert native_query(q, spark, cat)[0]["result"]["v"] == 3


def test_result_cache_never_shared_between_catalogs(spark, tmp_path):
    """Two catalogs registering one name over different data never serve
    each other's entries: the catalog identity is part of the key."""
    from incubator_druid_spark.api import native_query
    from incubator_druid_spark.catalog import Catalog

    cats = []
    for n in (3, 5):
        path = str(tmp_path / f"t{n}")
        spark.range(n).selectExpr("TIMESTAMP '2024-01-01' AS __time", "id") \
            .write.parquet(path)
        cat = Catalog(spark)
        cat.register("t", path)
        cats.append(cat)
    q = _cached({"queryType": "timeseries", "dataSource": "t",
                 "granularity": "all",
                 "aggregations": [{"type": "count", "name": "rows"}]})
    for _ in range(2):
        assert [native_query(q, spark, c)[0]["result"]["rows"]
                for c in cats] == [3, 5]


def test_result_cache_hit_is_a_copy(spark, foo_catalog):
    """Mutating a returned response — the one that populated the cache or
    one served from it — never alters what the next hit returns."""
    import copy

    from incubator_druid_spark.api import native_query
    q = _cached({"queryType": "groupBy", "dataSource": "foo",
                 "granularity": "all", "dimensions": ["dim1"],
                 "aggregations": [{"type": "count", "name": "cnt"}]})
    first = native_query(q, spark, foo_catalog)
    expected = copy.deepcopy(first)
    first[0]["event"]["cnt"] = -1
    hit, jobs = spark_jobs(spark, lambda: native_query(q, spark, foo_catalog))
    assert hit == expected and jobs == 0
    hit[0]["event"].clear()
    hit.pop()
    assert native_query(q, spark, foo_catalog) == expected


def test_result_cache_follows_catalog_lookup_reregister(spark):
    """A lookup datasource re-registered on the catalog moves its version:
    the cached scan over it answers from the new mapping."""
    from incubator_druid_spark.api import native_query
    from incubator_druid_spark.catalog import Catalog

    cat = Catalog(spark)
    q = _cached({"queryType": "scan",
                 "dataSource": {"type": "lookup", "lookup": "cache_lk"},
                 "columns": ["k", "v"]})
    cat.register_lookup("cache_lk", {"a": "1"})
    assert native_query(q, spark, cat)[0]["events"] == [{"k": "a", "v": "1"}]
    cat.register_lookup("cache_lk", {"a": "2"})
    assert native_query(q, spark, cat)[0]["events"] == [{"k": "a", "v": "2"}]


def test_result_cache_concurrent_populate_lookup():
    """Threads populating and reading overlapping keys (more threads than
    cores, short switch interval): every hit is the response stored under
    its own key, and the cache never grows past its bound."""
    import sys
    import threading

    from incubator_druid_spark.plans import cache as qcache

    class OneVersion:  # the cache reads nothing of a catalog but this
        def version(self):
            return (0, 0)

    cat, wrong = OneVersion(), []

    def work(t):
        for i in range(300):
            name = f"ds{(t * 7 + i) % 100}"
            q = _cached({"queryType": "scan", "dataSource": name})
            hit = qcache.lookup(q, cat)
            if hit is not None and hit != [name]:
                wrong.append(hit)
            qcache.populate(q, cat, [name])

    qcache.clear()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not wrong and len(qcache._CACHE) <= qcache._MAX_ENTRIES
    qcache.clear()


def test_scan_compacted_list_format(spark, foo_catalog):
    """ScanQuery RESULT_FORMAT_COMPACTED_LIST (ScanQuery.java:53-55): events
    as value arrays in column order instead of maps."""
    from incubator_druid_spark.api import native_query
    q = {"queryType": "scan", "dataSource": "foo", "columns": ["dim1", "m2"],
         "resultFormat": "compactedList", "limit": 2, "order": "ascending"}
    out = native_query(q, spark, foo_catalog)
    assert out[0]["columns"] == ["dim1", "m2"]
    assert out[0]["events"] == [["", 1.0], ["10.1", 2.0]]


def test_query_timeout_cancels_job(spark, foo_catalog):
    """context.timeout (QueryContexts.java): a query over its budget raises
    QueryTimeoutError and the Spark job group is cancelled."""
    import time

    import pytest

    from incubator_druid_spark.api import QueryTimeoutError, sql_query

    # a cartesian blow-up that would take far longer than the budget.
    # Two constraints learned the hard way (r10):
    # - the cost must live in EXECUTION, not planning: a deep self-cartesian
    #   of the multi-file foo table multiplies SCAN PARTITIONS (6^12), and
    #   the driver materializes that CartesianPartition array BELOW the
    #   job-group cancellation surface — the abandoned worker thread kept
    #   allocating until ~13 GB of partition objects poisoned the suite's
    #   16g heap (observed twice);
    # - tasks must be SMALL: cancellation reliably stops *scheduling* more
    #   waves, but a codegen'd cartesian task ignores the interrupt until
    #   it finishes, so 8 multi-minute tasks starve the follow-up query.
    # range-side slicing gives 2000 × ~4M-row tasks (tens of ms each):
    # uncancelled completion is >>1.5 s, post-cancel drain is one wave.
    slow = {"query": """
        SELECT count(*) AS c
        FROM range(0, 8000000000, 1, 2000) r, foo a
        WHERE a.m1 + r.id > 0""",
            "context": {"timeout": 1500}}
    t0 = time.time()
    with pytest.raises(QueryTimeoutError):
        sql_query(slow, spark, foo_catalog)
    assert time.time() - t0 < 30  # cancelled, not run to completion

    # fast query under the same budget still succeeds
    ok = sql_query({"query": "SELECT count(*) AS c FROM foo",
                    "context": {"timeout": 60000}}, spark, foo_catalog)
    assert ok == [{"c": 6}]
