"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, from spans and Spark's status
store.  The lines before it print the same run under the names the
benchmark doc uses, with units, per workload.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import resource
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEMORY = "2g"
#: client compiler only, a measurement setting: with the default tiered
#: compiler, C2 keeps one or two of the 4 cores compiling through the
#: first minutes of the process, a dashboard run takes ~70 s instead of
#: ~50 s, and the runs the regression check makes no longer fit its time
#: budget.  Absolute numbers are those of C1 code (see the README).
#: The heap is committed and touched at start, so its share of the resident
#: memory is fixed: peak_rss_beyond_heap_mb is the rest, and the GC log
#: gives the heap the engine kept (spark.heap_after_gc_peak_mb).
JVM_OPTIONS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
               f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
#: the traced requests' span self times, summed, must match the requests'
#: latency as the client measured it within this share; a larger gap fails
#: the traced run's check
SELF_SUM_BOUND_PCT = 5.0


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": cpus,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    import tempfile
    tempfile.tempdir = tmp


def _machine(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2 ** 20, 1),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"]}


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this Python process plus the JVM, and the
    part of it beyond the JVM's heap (committed and touched at start)."""
    jvm = spark._jvm.java.lang
    jvm_kb = 0
    with open(f"/proc/{jvm.ProcessHandle.current().pid()}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    total = (jvm_kb + py_kb) / 1024.0
    return total, total - jvm.Runtime.getRuntime().totalMemory() / 2 ** 20


_GC_LINE = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(")


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection, from a JVM
    ``-Xlog:gc`` file (lines like ``Pause Young ... 512M->96M(2048M)``)."""
    scale = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    peak = 0.0
    with open(gc_log) as fh:
        for line in fh:
            m = _GC_LINE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * scale[m.group(4)])
    return peak


def _stop(spark) -> None:
    """Stop Spark, then the JVM process pyspark launched, and wait for it:
    the JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(wl, streams: list, seconds: float, tracer=None,
            ops: int | None = None) -> tuple[list, float]:
    """Closed loop: each client takes its next operation from its stream
    when the previous one returns, until ``seconds`` have passed (or, given
    ``ops``, it has sent that many) and its cycle of operations (Op.more)
    is complete.  With a tracer, the operations of every other block are
    traced (workloads.traced)."""
    from workloads import Result, traced
    sc = wl.spark.sparkContext
    out: list[list] = [[] for _ in range(wl.clients)]
    errors: list[BaseException] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(c: int) -> None:
        try:
            seq, cycle, more = 0, 0, False
            while more or (seq < ops if ops is not None
                           else time.perf_counter() < deadline):
                op = next(streams[c])
                more = op.more
                rid = f"r{c}-{seq}" if tracer is not None \
                    and traced(op, cycle) else None
                cycle += not more
                if rid:
                    sc.setJobGroup(rid, rid)
                r = Result(op, time.perf_counter(), 0.0, rid=rid)
                try:
                    if rid:
                        with tracer.request(rid):
                            r.answer = op.run()
                    else:
                        r.answer = op.run()
                except Exception as e:  # noqa: BLE001 — a failed operation
                    r.error = f"{type(e).__name__}: {e}"[:500]
                r.end = time.perf_counter()
                if rid:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                out[c].append(r)
                seq += 1
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    results = [r for rs in out for r in rs]
    wall = max(r.end for r in results) - t_start
    return results, wall


def _end_to_end(results, wall, setup_s, rss_beyond_heap) -> dict[str, float]:
    lat = [(r.end - r.start) * 1000.0 for r in results]
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat),
        "work_rows_per_s": sum(r.op.rows for r in results) / wall,
        "peak_rss_beyond_heap_mb": rss_beyond_heap,
    }


def _doc_names(wl, results, wall, e2e, failed_ratio, rss,
               extra) -> list[tuple]:
    """The same run under the names the benchmark doc gives each
    workload's end-to-end metrics: (name, value, unit)."""
    from stats import quantile, tail_ok
    out = [("setup_s", e2e["setup_s"], "s")]
    reads = [r for r in results if r.op.kind not in ("ingest", "chain")]
    lat = [(r.end - r.start) * 1000.0 for r in reads]
    if wl.name in ("dashboard", "ingest_read"):
        out.append(("qps", len(reads) / wall, "1/s"))
    if wl.name != "curation":
        out.append(("query_p50_ms", quantile(lat, 0.5), "ms"))
        # the highest percentile with ten samples beyond it
        q = next((q for q in (99, 90, 75) if tail_ok(len(lat), q / 100)), None)
        if q is not None:
            out.append((f"query_p{q}_ms", quantile(lat, q / 100), "ms"))
        out.append(("queries", len(lat), "count"))
    if wl.name == "dashboard":
        out.append(("covered_rows_per_s", e2e["work_rows_per_s"], "rows/s"))
    if wl.name == "scan_heavy":
        out.append(("scan_rows_per_s", e2e["work_rows_per_s"], "rows/s"))
    if wl.name == "ingest_read":
        b = [(r.end - r.start) * 1000.0 for r in results if r.op.kind == "ingest"]
        out += [("ingest_rows_per_s", e2e["work_rows_per_s"], "rows/s"),
                ("ingest_batch_p50_ms", quantile(b, 0.5), "ms"),
                ("bytes_stored_per_input_byte",
                 extra["bytes_stored_per_input_byte"], "ratio")]
    if wl.name == "curation":
        out.append(("curation_docs_per_s", e2e["work_rows_per_s"], "docs/s"))
    out += [("failed_op_ratio", failed_ratio, "ratio"),
            ("peak_rss_mb", rss, "MB"),
            ("peak_rss_beyond_heap_mb", e2e["peak_rss_beyond_heap_mb"], "MB"),
            ("heap_after_gc_peak_mb", extra["spark.heap_after_gc_peak_mb"],
             "MB")]
    return out


def _per_layer(wl, tracer, results, overhead_pct, extra) -> dict[str, float]:
    import spans as tr
    sc = wl.spark.sparkContext
    tr.drain_listener(sc)
    traced = [r for r in results if r.rid]
    groups = {r.rid: tr.spark_group_stats(sc, r.rid) for r in traced}
    from workloads import result_rows
    rows = {r.rid: result_rows(r.answer) for r in traced}
    latency = {r.rid: r.end - r.start for r in traced}
    m = tr.layer_metrics(tracer, groups, rows, latency)
    m["plans.cache.stale_hits"] = float(sum(
        1 for r in traced if r.outcome == "stale" and tracer.cache_hits[r.rid]))
    m["sources.rollup_ratio"] = extra.get("sources.rollup_ratio", 0.0)
    for k in ("files_written", "bytes_written", "files_total"):
        m[f"sources.{k}"] = extra.get(f"sources.{k}", 0.0)
    # LSH candidates and verified pairs of the first traced curation pass,
    # counted after the run (the pipeline returns lazy DataFrames)
    first = next((tracer.captured[r.rid] for r in traced
                  if len(tracer.captured.get(r.rid, {})) == 2), None)
    n_cand = float(first["candidates"].count()) if first else 0.0
    m["pipeline.minhash.candidate_pairs"] = n_cand
    m["pipeline.minhash.verified_ratio"] = \
        first["verified"].count() / n_cand if n_cand else 0.0
    m["pipeline.dedup.planted_recall"] = extra.get(
        "pipeline.dedup.planted_recall", 0.0)
    m["spark.heap_after_gc_peak_mb"] = extra["spark.heap_after_gc_peak_mb"]
    m["trace.overhead_pct"] = overhead_pct
    return m


def _overhead_pct(results) -> float:
    """Tracing overhead: per operation kind, the median latency of traced
    requests over that of untraced ones of the same stream; the median of
    those ratios, minus one, in percent."""
    by_kind: dict[str, tuple[list, list]] = {}
    for r in results:
        t, u = by_kind.setdefault(r.op.kind, ([], []))
        (t if r.rid else u).append(r.end - r.start)
    ratios = [statistics.median(t) / statistics.median(u)
              for t, u in by_kind.values() if t and u]
    return (statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}

    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS  # noqa: E402 — after the path is set
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # the engine under test, from the checkout (absent: no result)
    from incubator_druid_spark import get_spark  # noqa: E402
    from incubator_druid_spark.plans import cache as result_cache  # noqa: E402

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    spark = None
    try:
        _environment(work)
        gc_log = os.path.join(work, "gc.log")
        t0 = time.perf_counter()
        spark = get_spark(extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions":
                f"{JVM_OPTIONS} -Xlog:gc:file={gc_log}",
        })
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, args.seed)
        reps = []
        for k in range(SETUP_REPS):
            rep_dir = os.path.join(work, f"rep{k}")
            result_cache.clear()  # no cached result outlives its set-up
            t = time.perf_counter()
            wl.setup(rep_dir)
            reps.append(time.perf_counter() - t)
            if k:
                shutil.rmtree(os.path.join(work, f"rep{k - 1}"))
        setup_s = session_s + statistics.median(reps)
        t = time.perf_counter()
        wl.warm_up()
        streams = [wl.stream(c) for c in range(wl.clients)]
        if wl.ramp_ops:
            measure(wl, streams, 0.0, ops=wl.ramp_ops)
        warm_s = time.perf_counter() - t

        tracer = None
        if args.trace:
            import spans as tr
            tracer = tr.Tracer()
            tracer.install()
        try:
            results, wall = measure(wl, streams, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()

        wl.check(results)
        extra = wl.report(results)
        extra["spark.heap_after_gc_peak_mb"] = heap_after_gc_peak_mb(gc_log)
        failed = sum(1 for r in results if r.outcome != "ok")
        wrong = sum(1 for r in results if r.outcome == "wrong")
        stale = sum(1 for r in results if r.outcome == "stale")
        errors = [r.error for r in results if r.error]
        # a stale cached answer is the result cache's known freshness
        # defect: counted as a failed operation, reported apart from
        # answers that are wrong in any other way
        correct = wrong == 0 and not errors and wl.stored_ok
        rss, rss_beyond_heap = _peak_rss_mb(spark)
        e2e = _end_to_end(results, wall, setup_s, rss_beyond_heap)

        print(f"# machine {json.dumps(_machine(spark))}")
        print(f"# {wl.name}: {len(results)} operations in {wall:.2f} s, "
              f"{wl.clients} client(s); set-up: session {session_s:.3f} s + "
              f"median of data set-ups {[round(x, 3) for x in reps]} s"
              f"; warm-up (not in setup_s) {warm_s:.3f} s")
        for name, value, unit in _doc_names(wl, results, wall, e2e,
                                            failed / len(results), rss, extra):
            print(f"{wl.name:12s} {name:28s} {value:14.4f} {unit}")
        print(f"{wl.name:12s} {'correct':28s} {str(correct):>14s}  "
              f"(wrong {wrong}, stale {stale}, errors {len(errors)})")
        for e in sorted(set(errors))[:5]:
            print(f"# error: {e}")

        if args.trace:
            metrics = _per_layer(wl, tracer, results, _overhead_pct(results),
                                 extra)
            spans_file = os.path.join(
                os.path.dirname(work), f"spans-{wl.name}-seed{args.seed}.jsonl")
            tracer.dump(spans_file)
            ok = metrics["trace.self_sum_error_pct"] <= SELF_SUM_BOUND_PCT
            correct = correct and ok
            print(f"# trace: {int(metrics['trace.requests'])} traced requests, "
                  f"{int(metrics['trace.spans'])} spans; self times add up to "
                  f"the measured request latency within "
                  f"{metrics['trace.self_sum_error_pct']:.3f} % (bound "
                  f"{SELF_SUM_BOUND_PCT} %: {'ok' if ok else 'FAILED'}); "
                  f"spans in {os.path.relpath(spans_file, ROOT)}")
            for name in layer_units:
                print(f"{wl.name:12s} {name:40s} {metrics.get(name, 0.0):14.4f} "
                      f"{layer_units[name]}")
            out = {n: metrics.get(n, 0.0) for n in layer_units}
            units = layer_units
        else:
            out = {n: e2e[n] for n in e2e_units}
            units = e2e_units
        print(json.dumps({
            "correct": bool(correct), "attempted": len(results),
            "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]}
                        for n, v in out.items()}}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — no result line on failure
        traceback.print_exc()
        sys.exit(1)
