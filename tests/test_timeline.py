"""Catalog.timeline — one segment timeline per datasource.

The `__bucket` listing, the `_druid_meta.json` ingest sidecar and the
`__time` footer extent are read once per table version and serve the
timeseries zero-fill, the translator's partition lower bound,
segmentMetadata and sys.segments (the broker's per-datasource timeline in
CachingClusteredClient)."""

import datetime
import json
import os

import pytest

from incubator_druid_spark import translate
from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.sources.ingest import ingest
from incubator_druid_spark.sql.functions import druid_sql

D = datetime.datetime


def _ingest(spark, tmp_path, name, days, cat=None, append=False,
            partitions=None, tag="a"):
    """Two rows per day (06:00 and 18:00, typ=a/b), day segments, hour
    query granularity with rollup."""
    src = str(tmp_path / f"{name}_{'_'.join(map(str, days))}.json")
    with open(src, "w") as f:
        for day in days:
            for hour, typ in ((6, tag), (18, "b")):
                f.write(json.dumps({"t": f"2024-01-0{day}T{hour:02d}:15:00Z",
                                    "typ": typ, "v": day}) + "\n")
    spec = {
        "dataSchema": {
            "dataSource": name,
            "timestampSpec": {"column": "t", "format": "iso"},
            "dimensionsSpec": {"dimensions": ["typ"]},
            "metricsSpec": [{"type": "longSum", "name": "v",
                             "fieldName": "v"}],
            "granularitySpec": {"segmentGranularity": "day",
                                "queryGranularity": "hour",
                                "rollup": True},
        },
        "ioConfig": {"inputSource": {"type": "local", "files": [src]},
                     "inputFormat": {"type": "json"},
                     "appendToExisting": append},
        "tuningConfig": {"partitionsSpec": partitions or {}},
    }
    cat = cat or Catalog(spark)
    path = ingest(spark, spec, cat, str(tmp_path / "seg"))
    return cat, path


def _segments(spark, cat, name):
    rows = druid_sql(spark, "SELECT segment_id, start, size FROM sys.segments "
                            f"WHERE datasource = '{name}'", cat).collect()
    return sorted((r["segment_id"], r["start"], r["size"]) for r in rows)


def _ts(name, filter_value="a", gran="hour"):
    return {"queryType": "timeseries", "dataSource": name,
            "granularity": gran,
            "intervals": ["2024-01-01T00:00:00Z/2024-01-06T00:00:00Z"],
            "filter": {"type": "selector", "dimension": "typ",
                       "value": filter_value},
            "aggregations": [{"type": "count", "name": "c"}]}


@pytest.mark.parametrize("partitions", [
    {}, {"type": "hashed", "partitionDimensions": ["typ"], "numShards": 2}])
def test_hashed_layout_keeps_ingest_metadata(spark, tmp_path, partitions):
    name = "tl_hashed" if partitions else "tl_plain"
    cat, path = _ingest(spark, tmp_path, name, [1, 2, 3],
                        partitions=partitions)
    q = {"queryType": "segmentMetadata", "dataSource": name,
         "analysisTypes": ["rollup", "queryGranularity"]}
    row = translate(q, spark, cat).collect()[0]
    assert (row["rollup"], row["queryGranularity"]) == (True, "hour")
    segs = _segments(spark, cat, name)
    assert [(s, b) for s, b, _ in segs] == [
        (f"{name}_2024-01-0{d}T00", f"2024-01-0{d}T00") for d in (1, 2, 3)]
    # sizes count data files only: no .crc checksums, no sidecar
    for _, bucket, size in segs:
        part = os.path.join(path, f"__bucket={bucket}")
        assert size == sum(os.path.getsize(os.path.join(part, f))
                           for f in os.listdir(part)
                           if not f.startswith((".", "_")))


def test_subquery_translated_once(spark, tmp_path, monkeypatch):
    from incubator_druid_spark.plans import translator
    cat, _ = _ingest(spark, tmp_path, "tl_sub", [1, 2, 4])
    calls = []
    orig = translator.translate

    def counting(query, *args):
        calls.append(query["queryType"])
        return orig(query, *args)

    monkeypatch.setattr(translator, "translate", counting)
    inner = {"queryType": "scan", "dataSource": "tl_sub",
             "intervals": ["2024-01-01T00:00:00Z/2024-01-06T00:00:00Z"],
             "columns": ["__time", "typ", "v"]}
    q = dict(_ts({"type": "query", "query": inner}), granularity="day")
    got = [(r["__time"], r["c"]) for r in translate(q, spark, cat).collect()]
    assert calls == ["scan"]
    # coverage from the scanned rows (no `__bucket` column survives the
    # subquery); the extent is the innermost table's
    assert got == [(D(2024, 1, 1), 1), (D(2024, 1, 2), 1), (D(2024, 1, 4), 1)]


def test_timeline_memoized_footers_and_sidecar_read_once(
        spark, tmp_path, monkeypatch):
    import builtins

    import pyarrow.parquet as pq
    cat, path = _ingest(spark, tmp_path, "tl_memo", [1, 2, 4])
    footers, sidecars = [], []
    orig_pf, orig_open = pq.ParquetFile, builtins.open

    def parquet_file(p, *a, **k):
        footers.append(p)
        return orig_pf(p, *a, **k)

    def opener(p, *a, **k):
        if str(p).endswith("_druid_meta.json"):
            sidecars.append(p)
        return orig_open(p, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", parquet_file)
    monkeypatch.setattr(builtins, "open", opener)
    first = translate(_ts("tl_memo"), spark, cat).collect()
    second = translate(_ts("tl_memo", "b"), spark, cat).collect()
    assert len(first) == len(second) > 0
    data = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet") and not f.startswith(".")]
    assert sorted(footers) == sorted(data)
    assert len(sidecars) == 1


def test_timeline_fresh_after_append(spark, tmp_path):
    cat, _ = _ingest(spark, tmp_path, "tl_fresh", [1, 2])
    before = [r["__time"] for r in
              translate(_ts("tl_fresh", "zzz"), spark, cat).collect()]
    # hour buckets of the covered days, clipped to the data's extent
    day1 = [D(2024, 1, 1, h) for h in range(6, 24)]
    assert before == day1 + [D(2024, 1, 2, h) for h in range(19)]
    assert len(_segments(spark, cat, "tl_fresh")) == 2
    _ingest(spark, tmp_path, "tl_fresh", [4], cat=cat, append=True)
    after = [r["__time"] for r in
             translate(_ts("tl_fresh", "zzz"), spark, cat).collect()]
    # the extent now ends in the new day segment; day 3 stays a gap
    assert after == day1 + [D(2024, 1, 2, h) for h in range(24)] + [
        D(2024, 1, 4, h) for h in range(19)]
    assert [b for _, b, _ in _segments(spark, cat, "tl_fresh")] == [
        "2024-01-01T00", "2024-01-02T00", "2024-01-04T00"]


def test_no_timeline_for_remote_or_unknown(spark):
    cat = Catalog(spark)
    cat.register("remote", "s3a://bucket/no/such/table")
    assert cat.timeline("remote") is None
    assert cat.timeline("missing") is None


def test_timeline_concurrent_readers_and_writer(spark, tmp_path):
    """Threads reading the memo while a writer adds a segment each see one
    whole table version: the extent always matches the segment listing."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    def add_day(d):
        # staged, then renamed in: a segment appears whole, like a commit
        part = tmp_path / f"stage{d}"
        part.mkdir()
        pq.write_table(pa.table({"__time": pa.array(
            [D(2024, 1, d, 5)], pa.timestamp("us"))}), part / "p.parquet")
        (tmp_path / "t").mkdir(exist_ok=True)
        os.rename(part, tmp_path / "t" / f"__bucket=2024-01-0{d}T00")

    for d in (1, 2):
        add_day(d)
    cat = Catalog(spark)
    cat.register("t", str(tmp_path / "t"))
    seen, errors = [], []

    def reader():
        try:
            for _ in range(40):
                tl = cat.timeline("t")
                seen.append((len(tl.segments), tl.extent[1]))
        except Exception as e:  # noqa: BLE001 - surfaced by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        add_day(4)
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors
    ms = {d: int(D(2024, 1, d, 5, tzinfo=datetime.timezone.utc)
                 .timestamp() * 1000) for d in (2, 4)}
    assert set(seen) <= {(2, ms[2]), (3, ms[4])}
    assert (len(cat.timeline("t").segments),
            cat.timeline("t").extent[1]) == (3, ms[4])
