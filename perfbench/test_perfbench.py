"""Tests of the benchmark's own arithmetic and generators (no Spark).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# -- the ten-beyond percentile rule -------------------------------------------

@pytest.mark.parametrize("n,q,ok", [
    (100, 0.90, True), (92, 0.90, True), (91, 0.90, False), (40, 0.90, False),
    (40, 0.75, True), (37, 0.75, False), (1000, 0.99, True), (900, 0.99, False),
])
def test_tail_needs_ten_samples_beyond(n, q, ok):
    assert stats.tail_ok(n, q) is ok
    xs = list(range(n))
    assert (sum(1 for x in xs if x > stats.quantile(xs, q)) >= 10) is ok


def test_quantile_matches_numpy():
    r = np.random.default_rng(0)
    xs = list(r.random(57))
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        assert stats.quantile(xs, q) == pytest.approx(np.quantile(xs, q))


# -- self time on a synthetic span tree ---------------------------------------

def _tree():
    S = spans.Span
    return [S(1, "request", 0.0, 10.0, None, "r"),
            S(2, "api.native_query", 0.5, 9.5, 1, "r"),
            S(3, "plans.translate", 1.0, 4.0, 2, "r"),
            S(4, "operators.topN.build", 1.5, 3.0, 3, "r")]


def test_self_times_add_up_to_request_wall_time():
    tree = _tree()
    jobs = spans.attach_jobs(
        tree, [(5.0, 7.0), (7.5, 9.0), (6.0, 6.5), (2.0, 2.5)], 100)
    # the job at 2.0-2.5 ran inside the operator build, the others in api;
    # the one at 6.0-6.5 ran beside the one at 5.0-7.0 and merges with it
    assert sorted((j.parent, j.start, j.end) for j in jobs) == \
        [(2, 5.0, 7.0), (2, 7.5, 9.0), (4, 2.0, 2.5)]
    selfs = spans.self_times(tree + jobs)
    assert selfs[1] == pytest.approx(1.0)        # 10 - 9
    assert selfs[2] == pytest.approx(9 - 3 - 2 - 1.5)
    assert selfs[3] == pytest.approx(3 - 1.5)
    assert selfs[4] == pytest.approx(1.5 - 0.5)
    assert sum(selfs.values()) == pytest.approx(10.0)


def _tracer_with(tree):
    t = spans.Tracer()
    t.spans = list(tree)
    return t


def test_self_sum_check_measures_against_client_latency():
    tree = _tree()
    stats_ = {"r": {"jobs": 1, "stages": 1, "tasks": 1, "launch_wait_s": [],
                    "job_intervals": [(5.0, 7.0)], "run_ms": 0.0,
                    "cpu_ms": 0.0, "gc_ms": 0.0, "input_bytes": 0,
                    "input_rows": 0, "shuffle_write_bytes": 0}}
    # the client saw 10.5 s: 0.5 s outside the root span
    m = spans.layer_metrics(_tracer_with(tree), stats_, {"r": 1}, {"r": 10.5})
    assert m["trace.self_sum_error_pct"] == pytest.approx(0.5 / 10.5 * 100)
    # a job reaching 1.5 s past the request's span adds that time on top
    stats_["r"]["job_intervals"] = [(9.5, 11.5)]
    m = spans.layer_metrics(_tracer_with(tree), stats_, {"r": 1}, {"r": 10.0})
    assert m["trace.self_sum_error_pct"] == pytest.approx(15.0)


def test_overlapping_children_are_subtracted_once():
    S = spans.Span
    tree = [S(1, "request", 0.0, 10.0, None, "r"),
            S(2, "a", 1.0, 6.0, 1, "r"), S(3, "b", 4.0, 8.0, 1, "r")]
    assert spans.self_times(tree)[1] == pytest.approx(10 - 7)
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert spans.covered([(1, 3)], 2, 10) == pytest.approx(1)


def test_tracer_records_only_traced_requests():
    t = spans.Tracer()

    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t.wrap(Mod, "f", "layer.f")
    assert Mod.f(1) == 2 and not t.spans
    with t.request("r1"):
        assert Mod.f(2) == 3
    assert [s.name for s in sorted(t.spans, key=lambda s: s.sid)] == \
        ["request", "layer.f"]
    assert t.spans[0].parent == t.spans[1].sid  # layer.f closed first
    t.uninstall()
    assert not hasattr(Mod.f, "__wrapped__")


# -- which operations the traced run traces -----------------------------------

def _marked(ops):
    """(op, traced) in the order one client sends them, cycles counted as
    run.measure counts them."""
    cycle, out = 0, []
    for op in ops:
        out.append((op, workloads.traced(op, cycle)))
        cycle += not op.more
    return out


def test_traced_ingest_read_days_hold_reads_after_every_batch(tmp_path):
    wl = workloads.IngestRead(None, 3)
    wl.batch_rows = 400
    wl.start(str(tmp_path), None)
    stream = wl.stream(0)
    ops = [next(stream) for _ in range(
        6 * (1 + wl.read_rounds * len(gen.ingest_reads(0))))]
    seen = {True: set(), False: set()}
    batch = None
    for op, t in _marked(ops):
        if op.kind == "ingest":
            batch = op.check
        else:
            # reads after a day's later batch are those the stale cached
            # answers come from; both halves of the run hold both kinds
            seen[t].add(batch % gen.INGEST_BATCHES_PER_DAY)
    assert seen[True] == seen[False] == set(range(gen.INGEST_BATCHES_PER_DAY))


def test_traced_dashboard_requests_have_the_untraced_mix():
    pool = gen.dashboard_pool(4)
    qs = gen.dashboard_stream(4, 1, pool, 8 * len(gen.DASHBOARD_SLOTS))
    n = len(gen.DASHBOARD_SLOTS)
    ops = [workloads.Op(q.kind, None, block=i // n) for i, q in enumerate(qs)]
    kinds = {True: [], False: []}
    for op, t in _marked(ops):
        kinds[t].append(op.kind)
    assert sorted(kinds[True]) == sorted(kinds[False])


# -- heap after GC, from the JVM's GC log ------------------------------------

def test_heap_after_gc_peak_reads_the_gc_log(tmp_path):
    import run
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.2s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) "
        "400M->96M(2048M) 9.1ms\n"
        "[3.4s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) "
        "1G->150M(2048M) 7.0ms\n"
        "[5.0s][info][gc] GC(2) Pause Remark 300M->120M(2048M) 2.0ms\n")
    assert run.heap_after_gc_peak_mb(str(log)) == 150.0


# -- seed determinism ---------------------------------------------------------

def _eq(a, b):
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_eq(a[k], b[k]) for k in a)
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


def test_same_seed_same_inputs_and_sequences():
    assert _eq(gen.basic_rows(7, 5000, gen.EPOCH_2024, gen.DAY_MS),
               gen.basic_rows(7, 5000, gen.EPOCH_2024, gen.DAY_MS))
    pool = gen.dashboard_pool(7)
    assert pool == gen.dashboard_pool(7)
    assert gen.dashboard_stream(7, 2, pool, 500) == \
        gen.dashboard_stream(7, 2, pool, 500)
    a, b = gen.IngestStream(7, 2000), gen.IngestStream(7, 2000)
    for _ in range(3):
        assert _eq(a.next_batch().columns, b.next_batch().columns)
    assert a.hourly == b.hourly
    c1, c2 = gen.curation_corpus(7, 2000, 2), gen.curation_corpus(7, 2000, 2)
    assert [s.texts for s in c1] == [s.texts for s in c2]
    assert [s.near_pairs for s in c1] == [s.near_pairs for s in c2]


def test_other_seed_other_inputs():
    assert not _eq(gen.basic_rows(1, 5000, gen.EPOCH_2024, gen.DAY_MS),
                   gen.basic_rows(2, 5000, gen.EPOCH_2024, gen.DAY_MS))
    p1, p2 = gen.dashboard_pool(1), gen.dashboard_pool(2)
    assert p1 != p2
    s1, s2 = gen.dashboard_stream(1, 0, p1, 500), gen.dashboard_stream(2, 0, p2, 500)
    assert [q.body for q in s1] != [q.body for q in s2]
    assert s1 != gen.dashboard_stream(1, 1, p1, 500)


def test_dashboard_pool_outgrows_the_result_cache():
    pool = gen.dashboard_pool(3)
    queries = [q for sub in pool.values() for q in sub]
    assert len({repr(q.body) for q in queries}) == gen.DASHBOARD_POOL > 64
    sql = sum(len(sub) for k, sub in pool.items() if k.startswith("sql"))
    assert sql / len(queries) == pytest.approx(0.3)
    # any window of a stream has the kind mix of DASHBOARD_SLOTS
    stream = gen.dashboard_stream(3, 1, pool, 40)
    assert sum(q.kind == "sql" for q in stream) == 12
    assert len({q.qid for q in gen.dashboard_stream(3, 0, pool, 1000)}) > 64


# -- generator facts the checks rely on ---------------------------------------

def test_ingest_tallies_and_planted_duplicates():
    s = gen.IngestStream(5, 4000)
    b = s.next_batch()
    minute = b.columns["ts"] // gen.MINUTE_MS
    keys = set(zip(minute, b.columns["country"], b.columns["device"]))
    assert len(keys) == b.distinct_keys == 4000 - 1000
    s.next_batch()
    hours = s.day_hours(0)
    assert sum(h[1] for h in hours) == s.input_rows == 8000
    assert sum(v[0] for v in s.day_countries(0).values()) == 8000


def test_curation_truth():
    shard = gen.curation_corpus(11, 2000, 1)[0]
    text = dict(zip(shard.ids, shard.texts))
    for d in shard.low_quality:
        assert len(text[d].split()) < 50
    assert sum(shard.groups.values()) == len(shard.ids) - len(shard.low_quality)
    assert any(n > 1 for n in shard.groups.values())
    assert shard.near_pairs
    for a, b in shard.near_pairs:
        assert a < b and a in shard.groups and b in shard.groups
        assert gen.jaccard(text[a], text[b]) >= gen.JACCARD_THRESHOLD


# -- answer checks -------------------------------------------------------------

def test_topn_check_tolerates_ties_at_the_cut():
    full = [("a", 5), ("b", 3), ("c", 3), ("d", 1)]
    assert oracle.topn_ok([("a", 5), ("c", 3)], full, 2, 1)
    assert oracle.topn_ok([("a", 5), ("b", 3)], full, 2, 1)
    assert not oracle.topn_ok([("a", 5), ("d", 1)], full, 2, 1)
    assert not oracle.topn_ok([("a", 5), ("b", 4)], full, 2, 1)


def test_rows_compare_as_multisets_with_float_tolerance():
    assert oracle.same_rows([("x", 1, 0.1 + 0.2)], [("x", 1, 0.3)])
    assert not oracle.same_rows([("x", 1, 0.31)], [("x", 1, 0.3)])
    assert oracle.same_rows([(2, "b"), (1, "a")], [(1, "a"), (2, "b")])
    assert oracle.rows_of("timeseries", [
        {"timestamp": "2024-01-01T00:00:00.000Z", "result": {"n": 3}}]) == \
        [(gen.EPOCH_2024, 3)]
