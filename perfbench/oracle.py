"""Answer checks, run after the timed region.

Query answers are reduced to lists of tuples and compared as multisets with
the DuckDB answer to the same question over the same generated rows.
Floats compare with a relative tolerance, because sums run in another
order; COUNT(DISTINCT) in Druid SQL is approximate by default, so its check
allows the error of a HyperLogLog sketch.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from decimal import Decimal

FLOAT_REL_TOL = 1e-6
APPROX_REL_TOL = 0.10
_ISO = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")


def to_ms(v) -> int:
    """Epoch millis of an ISO string or datetime the engine or DuckDB
    returns (naive values are UTC)."""
    if isinstance(v, str):
        v = dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
    if v.tzinfo is None:
        v = v.replace(tzinfo=dt.timezone.utc)
    return int(round(v.timestamp() * 1000))


def _norm(v):
    if isinstance(v, dt.datetime):
        return to_ms(v)
    if isinstance(v, dt.date):
        return to_ms(dt.datetime.combine(v, dt.time()))
    if isinstance(v, str) and _ISO.match(v):
        return to_ms(v)
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def rows_of(kind: str, answer) -> list[tuple]:
    """Engine response → comparable tuples, per native query type or SQL
    array result."""
    if kind == "sql":
        return [tuple(_norm(x) for x in r) for r in answer]
    if kind == "timeseries":
        return [(_norm(e["timestamp"]), *(_norm(v) for v in
                                           e["result"].values()))
                for e in answer]
    if kind == "groupBy":
        return [tuple(_norm(v) for v in e["event"].values()) for e in answer]
    if kind == "scan":
        return [tuple(_norm(v) for v in ev.values())
                for b in answer for ev in b["events"]]
    if kind in ("topN", "search"):
        return [tuple(_norm(v) for v in r.values())
                for b in answer for r in b["result"]]
    if kind == "timeBoundary":
        return [(_norm(e["result"]["minTime"]), _norm(e["result"]["maxTime"]))
                for e in answer]
    raise ValueError(kind)


def _close(a, b, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def _key(t: tuple):
    return tuple((0, round(x, 3)) if isinstance(x, float)
                 else (1, str(x)) for x in t)


def same_rows(got: list[tuple], want: list[tuple],
              rel: float = FLOAT_REL_TOL) -> bool:
    """Multiset equality with float tolerance."""
    if len(got) != len(want):
        return False
    return all(len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
               for a, b in zip(sorted(got, key=_key), sorted(want, key=_key)))


def topn_ok(got: list[tuple], full: list[tuple], k: int, metric_pos: int) -> bool:
    """TopN answer check that tolerates ties at the cut: every returned row
    must equal the full aggregate's row for that dimension value, and the
    returned metric values must be the k largest."""
    by_dim = {r[0]: r for r in full}
    if len(got) != min(k, len(full)):
        return False
    if any(r[0] not in by_dim or not same_rows([r], [by_dim[r[0]]])
           for r in got):
        return False
    want = sorted((r[metric_pos] for r in full), reverse=True)[:k]
    return sorted((r[metric_pos] for r in got), reverse=True) == want


def check_query(q, answer, con) -> bool:
    """One dashboard or scan_heavy answer against DuckDB (``con`` holds the
    generated rows)."""
    want = [tuple(_norm(x) for x in r) for r in con.execute(q.oracle).fetchall()]
    got = rows_of(q.kind, answer)
    if q.check == "topn":
        return topn_ok(got, want, q.meta["k"], 1)
    if q.check == "approx":
        return len(got) == len(want) and all(
            len(a) == len(b) and all(_close(float(x), float(y), APPROX_REL_TOL)
                                     for x, y in zip(a, b))
            for a, b in zip(sorted(got), sorted(want)))
    return same_rows(got, want)
