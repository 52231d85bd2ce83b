"""Query API surface: Druid's two POST endpoints as callable functions.

Reference:
- POST /druid/v2/    (native JSON)  — server/.../QueryResource.java
- POST /druid/v2/sql (SQL)         — sql/.../http/SqlResource.java:65-83,
  result formats sql/.../http/ResultFormat.java (object/array/objectLines/
  arrayLines/csv).

These are transport-agnostic: `native_query(body)` / `sql_query(body)` take
the request body dict and return the serialized response, so any HTTP server
(stdlib http.server, flask, etc.) can mount them with a two-line handler.  No
server dependency is baked in.

Query context options (query/QueryContexts.java): `skipEmptyBuckets` and
`grandTotal` are honored in the timeseries translation; `timeout`/laning are
deferred to Spark's own job cancellation and scheduler pools (orthogonal to
translation — see SURVEY §2.12).
"""

from __future__ import annotations

import csv
import io
import json
import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.plans import cache
from incubator_druid_spark.plans.translator import translate


def _jsonable(v: Any, tz=None) -> Any:
    """Druid's JSON rendering: instants with exactly 3 fractional digits
    (ISODateTimeFormat.dateTime), suffixed 'Z' in UTC or with the query
    timezone's offset under sqlTimeZone ('1999-12-31T16:00:00.000-08:00'
    — SqlResourceTest testTimestampsInResponseLosAngelesTimeZone); DATEs
    as the midnight instant of that calendar day in the query zone."""
    import datetime

    if isinstance(v, datetime.datetime):
        if tz is not None:
            # collect() returns naive machine-local wall time; pin the
            # instant explicitly, then render in the query zone
            aware = v.astimezone() if v.tzinfo is None else v
            s = aware.astimezone(tz).isoformat(timespec="milliseconds")
            return s[:-6] + "Z" if s.endswith("+00:00") else s
        return v.isoformat(timespec="milliseconds") \
            + ("Z" if v.tzinfo is None else "")
    if isinstance(v, datetime.date):
        if tz is None:
            return v.isoformat()
        s = datetime.datetime.combine(v, datetime.time(), tzinfo=tz) \
            .isoformat(timespec="milliseconds")
        return s[:-6] + "Z" if s.endswith("+00:00") else s
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, list):
        return [_jsonable(x, tz) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x, tz) for k, x in v.items()}
    return v


def _rows(df: DataFrame, limit: int | None = None, tz=None) -> list[dict]:
    it = df.toLocalIterator() if limit is None else iter(df.limit(limit).collect())
    out = []
    for r in it:
        out.append({k: _jsonable(v, tz)
                    for k, v in r.asDict(recursive=True).items()})
    return out


class QueryTimeoutError(TimeoutError):
    """context.timeout exceeded (QueryContexts.java `timeout`; the reference
    raises QueryTimeoutException and frees the query's resources — here the
    Spark job group is cancelled, interrupting running tasks)."""


def _rows_timed(df: DataFrame, timeout_ms, tz=None) -> list[dict]:
    """Collect with an optional wall-clock budget.  The collect runs in a
    worker thread under a dedicated Spark job group (a thread-local property,
    so it must be set inside that thread); on expiry the group is cancelled —
    executors interrupt the tasks — and QueryTimeoutError surfaces.

    Limitation: job-group cancellation reaches SUBMITTED jobs only.  Driver
    -side work before submission — analysis, optimization, and especially
    RDD partition-array materialization — is not interruptible, so a plan
    whose partition count explodes (e.g. a deep cartesian of multi-file
    scans multiplies partitions per level) keeps allocating on the
    abandoned worker thread after the timeout fires.  That is a Spark-core
    property, not something this wrapper can bound."""
    if not timeout_ms:
        return _rows(df, tz=tz)
    import threading
    import uuid

    sc = df.sparkSession.sparkContext
    group = f"druid-query-{uuid.uuid4().hex[:12]}"
    result: list = []
    error: list = []

    def run():
        sc.setJobGroup(group, "query with context.timeout",
                       interruptOnCancel=True)
        try:
            result.append(_rows(df, tz=tz))
        except Exception as ex:  # noqa: BLE001 — re-raised on the caller thread
            error.append(ex)
        finally:
            sc.setJobGroup(None, None)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(float(timeout_ms) / 1000.0)
    if t.is_alive():
        # One cancelJobGroup is NOT enough: it reaches ACTIVE jobs only, and
        # when the budget expires while the worker thread is still planning
        # (analysis/optimization can exceed a short timeout), the job it
        # submits moments later would run to completion unopposed — measured:
        # the cancelled query's task waves starved every follow-up query for
        # minutes.  Prefer the JVM-side cancelJobGroupAndFutureJobs (Spark
        # ≥3.5) which also rejects later submissions in the group; in either
        # case a bounded reaper re-cancels until the worker thread exits.
        try:
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
        except Exception:  # noqa: BLE001 — older JVM surface
            sc.cancelJobGroup(group)

        def _reap():
            import time as _time
            deadline = _time.time() + 600
            while t.is_alive() and _time.time() < deadline:
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # noqa: BLE001 — context shut down
                    break
                t.join(0.25)

        threading.Thread(target=_reap, daemon=True).start()
        raise QueryTimeoutError(
            f"Query timeout of {timeout_ms} ms exceeded (context.timeout)")
    if error:
        raise error[0]
    return result[0]


# ---------------------------------------------------------------------------
# native endpoint
# ---------------------------------------------------------------------------

def native_query(body: dict, spark: SparkSession, catalog: Catalog) -> list[dict]:
    """POST /druid/v2/ — returns Druid-shaped result envelopes per query type:
    timeseries → [{timestamp, result:{...}}], topN → [{timestamp, result:[...]}],
    groupBy → [{version, timestamp, event:{...}}], scan → [{columns, events}],
    others → plain row objects.  Under context.useCache/populateCache the
    finished response is served from / stored in the result cache
    (plans/cache.py): a hit neither translates nor runs a Spark job."""
    hit = cache.lookup(body, catalog)
    if hit is not None:
        return hit
    return cache.populate(body, catalog, _native_response(body, spark, catalog))


def _native_response(body: dict, spark: SparkSession,
                     catalog: Catalog) -> list[dict]:
    qt = body["queryType"]
    df = translate(body, spark, catalog)
    rows = _rows_timed(df, (body.get("context") or {}).get("timeout"))

    if qt == "timeseries":
        return [{"timestamp": r.pop(TIME_COLUMN, None), "result": r} for r in rows]
    if qt in ("topN", "search"):
        # one envelope per time bucket ({timestamp, result: [entries]}) —
        # TopNResultValue / SearchResultValue shape
        buckets: dict = {}
        for r in rows:
            ts = r.pop(TIME_COLUMN, None)
            buckets.setdefault(ts, []).append(r)
        return [{"timestamp": ts, "result": rs} for ts, rs in buckets.items()]
    if qt == "groupBy":
        return [{"version": "v1", "timestamp": r.pop(TIME_COLUMN, None),
                 "event": r} for r in rows]
    if qt == "scan":
        # ScanQuery.ResultFormat (ScanQuery.java:53-55): RESULT_FORMAT_LIST
        # (event maps, default) vs RESULT_FORMAT_COMPACTED_LIST (value arrays
        # in column order — the wire-efficient form)
        cols = df.columns
        if body.get("resultFormat") == "compactedList":
            return [{"columns": cols,
                     "events": [[r.get(c) for c in cols] for r in rows]}]
        return [{"columns": cols, "events": rows}]
    if qt == "timeBoundary":
        return [{"timestamp": rows[0].get("minTime"), "result": rows[0]}] if rows else []
    return rows


# ---------------------------------------------------------------------------
# SQL endpoint
# ---------------------------------------------------------------------------

def sql_query(body: dict, spark: SparkSession, catalog: Catalog) -> str | list:
    """POST /druid/v2/sql — body: {query, resultFormat, header, parameters}.
    Formats per ResultFormat.java: object (default) | array | objectLines |
    arrayLines | csv."""
    from incubator_druid_spark.sql.functions import druid_sql

    sql = body["query"]
    params = body.get("parameters") or []
    if params or "?" in sql:
        # bind even with an empty list so an unbound '?' raises Druid's
        # "Parameter: [?N] is not bound" instead of a parse error ('?'
        # inside string literals/comments is left alone by the binder)
        sql = _bind_parameters(sql, params)

    ctx = body.get("context") or {}
    outer_limit = ctx.get("sqlOuterLimit")
    if ctx.get("sqlCurrentTimestamp"):
        from incubator_druid_spark.sql.functions import \
            set_sql_current_timestamp
        # render the pinned instant in the zone the query will execute
        # under (sqlTimeZone, else the dialect's UTC default — NOT the
        # host session zone; druid_sql pins the execution session) so the
        # naive literal re-reads as the same instant —
        # PlannerContext.java localNow
        eff_tz = ctx.get("sqlTimeZone") or "UTC"
        set_sql_current_timestamp(ctx["sqlCurrentTimestamp"], eff_tz)
        try:
            body2 = dict(body)
            body2["context"] = {k: v for k, v in ctx.items()
                                if k != "sqlCurrentTimestamp"}
            return sql_query(body2, spark, catalog)
        finally:
            set_sql_current_timestamp(None)
    # sqlTimeZone (PlannerContext.CTX_SQL_TIME_ZONE): FLOOR-to-unit /
    # EXTRACT / result rendering interpret timestamps in this zone —
    # druid_sql pins the EXECUTION session's timezone to it (default UTC)
    # so the host session is never mutated, and the returned DataFrame is
    # bound to that session: collect/toPandas render under the same zone.
    df = druid_sql(spark, sql, catalog, ctx.get("sqlTimeZone"))
    if ctx.get("requireTimeCondition"):
        _require_time_condition(df)
    if outer_limit is not None:
        # PlannerContext.CTX_SQL_OUTER_LIMIT — wrap the whole result in a
        # limit (the broker applies it outside any query-level LIMIT)
        df = df.limit(int(outer_limit))
    return _collect_formatted(df, body, ctx)


def _require_time_condition(df) -> None:
    """PlannerConfig.requireTimeCondition (DruidQuery.java's
    CannotBuildQueryException: 'requireTimeCondition is enabled, all
    queries must include a filter condition on the __time column') as a
    plan guardrail: every file-relation scan must sit below a Filter that
    references __time.  Checked on BOTH the analyzed plan (where the
    filter still names __time even when the table derives it from a raw
    source column) and the optimized plan (where the optimizer has pushed
    a predicate on an ALIAS of __time down to the column itself); either
    satisfies.  At 100 TB this is the guard against accidental
    full-table scans."""

    def plan_ok(jplan) -> bool:
        ok = [True]

        def time_ids(cond) -> set:
            # exprIds of AttributeReferences literally NAMED __time — a
            # substring scan of condition.toString() would also accept
            # string literals containing '__time'
            ids = set()
            try:
                refs = cond.references().toSeq()
                for i in range(refs.size()):
                    a = refs.apply(i)
                    if a.name() == "__time":
                        ids.add(a.exprId().id())
            except Exception:  # pragma: no cover — defensive py4j
                pass
            return ids

        def out_ids(node) -> set:
            ids = set()
            try:
                s = node.outputSet().toSeq()
                for i in range(s.size()):
                    ids.add(s.apply(i).exprId().id())
            except Exception:  # pragma: no cover
                pass
            return ids

        def walk(node, ids, seen):
            cls = node.getClass().getSimpleName()
            if cls == "Filter":
                t = time_ids(node.condition())
                if t:
                    ids = ids | t
                    seen = True
            try:  # scans inside scalar/IN subqueries must be guarded too
                subs = node.subqueries()
                for i in range(subs.size()):
                    walk(subs.apply(i), set(), False)
            except Exception:  # pragma: no cover
                pass
            n = node.children().size()
            if n == 0:
                if cls == "LogicalRelation" and not seen:
                    ok[0] = False
                return
            if cls == "Join":
                # a filter on a.__time does NOT cover the other join
                # input: each branch keeps only the __time attributes ITS
                # subtree produces (a Filter above a Union covers every
                # branch, so only Join intersects)
                for i in range(n):
                    ch = node.children().apply(i)
                    c_ids = ids & out_ids(ch)
                    walk(ch, c_ids, bool(c_ids))
            else:
                for i in range(n):
                    walk(node.children().apply(i), ids, seen)

        walk(jplan, set(), False)
        return ok[0]

    qe = df._jdf.queryExecution()
    if not (plan_ok(qe.analyzed()) or plan_ok(qe.optimizedPlan())):
        raise ValueError(
            "requireTimeCondition is enabled, all queries must "
            "include a filter condition on the __time column")


def _millis_to_wall(millis: int) -> str:
    """Epoch millis → UTC wall-clock string (TimestampString
    .fromMillisSinceEpoch semantics); fractional seconds kept only when
    non-zero."""
    import datetime as _dt
    t = _dt.datetime.fromtimestamp(millis / 1000.0, _dt.timezone.utc)
    base = t.strftime("%Y-%m-%d %H:%M:%S")
    ms = millis % 1000
    return base + (".%03d" % ms if ms else "")


def _bind_parameters(sql: str, params: list) -> str:
    """Positional '?' binding (SqlParameter / SqlQuery.getParameterList) —
    quote- and comment-aware so a '?' inside a string literal is data, not a
    placeholder; string values have embedded quotes doubled."""
    out: list[str] = []
    it = iter(params)
    bound = 0  # index of the next '?' (for the unbound-parameter message)
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":  # string literal ('' is the escape)
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1]); i = j + 1
        elif c == '"':  # quoted identifier
            j = sql.find('"', i + 1)
            j = n - 1 if j < 0 else j
            out.append(sql[i:j + 1]); i = j + 1
        elif c == "-" and sql.startswith("--", i):  # line comment
            j = sql.find("\n", i)
            j = n if j < 0 else j
            out.append(sql[i:j]); i = j
        elif c == "/" and sql.startswith("/*", i):  # block comment
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(sql[i:j]); i = j
        elif c == "?":
            try:
                p = next(it)
            except StopIteration:
                # DruidPlanner's unbound-dynamic-param message
                # (SqlParameterizerShuttle leaves the param in place and
                # validation fails with this text)
                raise ValueError(f"Parameter: [?{bound}] is not bound")
            bound += 1
            v = p.get("value") if isinstance(p, dict) else p
            ptype = (p.get("type") or "").upper() if isinstance(p, dict) \
                else ""
            if v is None:
                out.append("NULL")
            elif ptype == "TIMESTAMP":
                # SqlParameterizerShuttle.java:61-66 — a Long is epoch
                # millis rendered as the UTC wall clock; a string is used
                # verbatim as the TIMESTAMP literal body
                if isinstance(v, bool):
                    raise ValueError("invalid TIMESTAMP parameter")
                if isinstance(v, (int, float)):
                    out.append("TIMESTAMP '%s'" % _millis_to_wall(int(v)))
                else:
                    out.append("TIMESTAMP '%s'" % str(v).replace("'", "''"))
            elif ptype == "DATE":
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    out.append("DATE '%s'" % _millis_to_wall(int(v))[:10])
                else:
                    out.append("DATE '%s'" % str(v).replace("'", "''"))
            elif isinstance(v, bool):
                out.append("TRUE" if v else "FALSE")
            elif isinstance(v, str):
                # Spark's parser interprets backslash escapes inside string
                # literals, so a trailing '\' would escape the closing quote —
                # double backslashes as well as quotes
                out.append("'" + v.replace("\\", "\\\\").replace("'", "''")
                           + "'")
            else:
                out.append(str(v))
            i += 1
        else:
            out.append(c); i += 1
    return "".join(out)


def _collect_formatted(df, body: dict, ctx: dict):
    """Collect + format; DUPLICATE output column names (two joined tables
    both exposing 'k') are collected under positional aliases so row
    dicts don't collapse them (Row.asDict keeps only the last), and the
    original names are restored for headers/object keys.  Timestamps and
    dates render in the query's sqlTimeZone (default UTC → 'Z' suffix)."""
    from zoneinfo import ZoneInfo
    tz = ZoneInfo(ctx.get("sqlTimeZone") or "UTC")
    cols = df.columns
    if len(set(cols)) != len(cols):
        safe = [f"__c{i}" for i in range(len(cols))]
        rows = _rows_timed(df.toDF(*safe), ctx.get("timeout"), tz=tz)
        return _format_sql_rows(rows, safe, body, display=cols)
    return _format_sql_rows(_rows_timed(df, ctx.get("timeout"), tz=tz),
                            cols, body)


def _format_sql_rows(rows: list[dict], cols: list[str], body: dict,
                     display: list[str] | None = None):
    fmt = body.get("resultFormat", "object")
    header = bool(body.get("header"))
    names = display or cols
    if display is not None and fmt in ("object", "objectLines"):
        # JSON objects can't carry duplicate keys — last wins, same as the
        # dict collapse; array formats below stay positional-exact
        rows = [{d: r[c] for c, d in zip(cols, display)} for r in rows]
        cols = names

    if fmt == "object":
        # ObjectWriter.writeHeader: header=true prepends a {col: null} row
        return ([{c: None for c in names}] + rows) if header else rows
    if fmt == "array":
        out = [[r[c] for c in cols] for r in rows]
        return ([names] + out) if header else out
    if fmt == "objectLines":
        # ObjectLinesWriter: optional header row, then one JSON object per
        # line, terminated by a BLANK line (writeResponseEnd emits '\n\n' —
        # the marker streaming clients use to detect truncation)
        lines = [json.dumps(r) for r in rows]
        if header:
            lines.insert(0, json.dumps({c: None for c in names}))
        return "\n".join(lines) + "\n\n"
    if fmt == "arrayLines":
        lines = [json.dumps([r[c] for c in cols]) for r in rows]
        if header:
            lines.insert(0, json.dumps(names))
        return "\n".join(lines) + "\n\n"
    if fmt == "csv":
        # CsvWriter: '\n' line endings (not Python csv's default '\r\n'),
        # trailing blank-line terminator like the lines formats
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        if header:
            w.writerow(names)
        for r in rows:
            w.writerow([r[c] for c in cols])
        return buf.getvalue() + "\n"
    raise ValueError(f"unknown resultFormat {fmt!r}")


# ---------------------------------------------------------------------------
# timewarp (§2.12 — query/TimewarpOperator.java)
# ---------------------------------------------------------------------------

def timewarp(body: dict, period_ms: int, origin_ms: int) -> dict:
    """TimewarpOperator: rewrite a query's intervals into a reference period
    (e.g. run this week's query against last week's data), shifting the
    result timestamps back.  Here: shift intervals before translation; the
    caller shifts `__time` in the result by +offset if display alignment is
    wanted."""
    from incubator_druid_spark.model.intervals import parse_intervals

    ivs = parse_intervals(body.get("intervals"))
    if not ivs:
        return body
    shifted = []
    for start, end in ivs:
        offset = _timewarp_offset(start, period_ms, origin_ms)
        shifted.append((start - offset, end - offset))

    def fmt(ms):
        import datetime
        return datetime.datetime.fromtimestamp(
            ms / 1000, tz=datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"

    out = dict(body)
    out["intervals"] = [f"{fmt(s)}/{fmt(e)}" for s, e in shifted]
    return out


def _timewarp_offset(t_ms: int, period_ms: int, origin_ms: int) -> int:
    # number of whole periods between t and origin (TimewarpOperator.java
    # computeOffset)
    periods = (t_ms - origin_ms) // period_ms
    return periods * period_ms
