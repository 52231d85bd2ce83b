"""timeseries query — time-bucketed aggregation, no dimension grouping.

Reference: query/timeseries/TimeseriesQuery.java:70-79 (fields) and
TimeseriesQueryEngine.java (per-segment fold by granular bucket; broker merges
buckets).  Spark: groupBy(granularity floor) + agg — partial aggregation
map-side, one shuffle on the bucket key, merge in the same plan.

Zero-filling: Druid emits a row for every granularity bucket in the query
intervals even when no rows landed there (unless context skipEmptyBuckets).
Empty buckets hold aggregator identity values (count → 0, sums → NULL in
SQL-compatible mode).  We generate the bucket spine driver-side from the
intervals (bucket count is bounded by interval/granularity, not data size —
safe at any data scale) and left-join the aggregate onto it.  Like the
broker, the spine is condensed to the datasource's segment timeline
(``Catalog.timeline``: the footer-statistics ``__time`` extent and the
``__bucket`` segment days), read once per table version, not per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import FilterContext
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.model.intervals import (interval_predicate,
                                                   parse_intervals)
from incubator_druid_spark.operators.aggregations import (compile_aggregations,
                                                          compile_post_aggregations)
from incubator_druid_spark.plans.translator import prepare_frame

_ZERO_FILL_AGGS = {"count", "longSum", "doubleSum", "floatSum", "cardinality",
                   "hyperUnique"}


def run(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    from incubator_druid_spark.operators.aggregations import rewrite_sketch_query
    from incubator_druid_spark.operators.tuple_keyed import analyze_keyed_aods
    keyed = analyze_keyed_aods(query)
    if keyed is None:
        query = rewrite_sketch_query(query)
    from incubator_druid_spark.plans.datasource import resolve_datasource
    src = resolve_datasource(query["dataSource"], spark, catalog)
    df = prepare_frame(query, spark, catalog, src)
    gran = parse_granularity(query.get("granularity", "all"))
    ctx = FilterContext(df)
    if keyed is not None:
        # keyed tuple-sketch post-aggs (ToVariances/TTest/SetOp/Quantiles):
        # two-level aggregation, time bucket as the grouping key.  Empty
        # buckets are not zero-filled on this path (sketch statistics over an
        # empty population are NaN anyway).
        from incubator_druid_spark.operators.tuple_keyed import run_keyed_aods
        post = compile_post_aggregations(keyed["remaining_posts"])
        if gran.kind == "all":
            out = run_keyed_aods(df, [], keyed, ctx)
        else:
            bucketed = df.withColumn(TIME_COLUMN,
                                     gran.floor(F.col(TIME_COLUMN)))
            out = run_keyed_aods(bucketed, [TIME_COLUMN], keyed, ctx)
        if post:
            for _p in post:
                out = out.select("*", _p)
        if gran.kind != "all":
            out = out.orderBy(F.col(TIME_COLUMN).desc()
                              if query.get("descending")
                              else F.col(TIME_COLUMN))
        limit = query.get("limit")
        return out.limit(int(limit)) if limit else out
    from incubator_druid_spark.functions.sketch_fold import grouped_agg
    folds = []
    aggs = compile_aggregations(query.get("aggregations"), ctx, query,
                                folds=folds)
    from incubator_druid_spark.functions.lookups import flush_lookup_joins
    df = flush_lookup_joins(df)  # large-lookup refs inside expression aggs
    if not aggs and not folds:
        aggs = [F.count(F.lit(1)).alias("count")]
    post = compile_post_aggregations(query.get("postAggregations"))

    if gran.kind == "all":
        out = grouped_agg(df, [], aggs, folds)
    else:
        out = grouped_agg(
            df, [gran.floor(F.col(TIME_COLUMN)).alias(TIME_COLUMN)],
            aggs, folds)
        out = _zero_fill(out, query, gran, spark, catalog, src)

    # TimeseriesQuery.CTX_TIMESTAMP_RESULT_FIELD — materialize the bucket
    # timestamp as a LONG millis result column (post-aggs may reference it;
    # Druid's SQL layer uses this for GROUP BY TIME_FLOOR rewrites)
    ts_field = (query.get("context") or {}).get("timestampResultField")
    if ts_field and gran.kind != "all":
        # resultArraySignature places the field right after __time
        # (TimeseriesQueryQueryToolChest.resultArraySignature)
        rest = [c for c in out.columns if c != TIME_COLUMN]
        out = out.select(TIME_COLUMN,
                         F.unix_millis(F.col(TIME_COLUMN)).alias(ts_field),
                         *rest)

    if post:
        for _p in post:
            out = out.select("*", _p)

    if gran.kind != "all":
        out = out.orderBy(F.col(TIME_COLUMN).desc() if query.get("descending")
                          else F.col(TIME_COLUMN))
        if query.get("context", {}).get("grandTotal"):
            # TimeseriesQueryQueryToolChest grand-total row: overall aggregate
            # appended with a null timestamp
            tfolds = []
            taggs = compile_aggregations(query.get("aggregations"), ctx,
                                         query, folds=tfolds)
            if not taggs and not tfolds:
                taggs = [F.count(F.lit(1)).alias("count")]
            total = grouped_agg(df, [], taggs, tfolds)
            if post:
                total = total.select("*", *compile_post_aggregations(
                    query.get("postAggregations")))
            total = total.withColumn(TIME_COLUMN, F.lit(None).cast("timestamp"))
            out = out.unionByName(total)
    limit = query.get("limit")
    if limit:
        out = out.limit(int(limit))
    return out


def _zero_fill(out: DataFrame, query: dict, gran, spark: SparkSession,
               catalog, src: DataFrame) -> DataFrame:
    """Left-join the aggregate onto the bucket spine of the query
    intervals, condensed to the datasource's segment timeline.  ``src`` is
    the resolved, unfiltered datasource frame."""
    if query.get("context", {}).get("skipEmptyBuckets"):
        return out
    ivs = parse_intervals(query.get("intervals"))
    if not ivs:
        return out  # unbounded → cannot enumerate buckets
    p = gran.period
    day_or_coarser = p is not None and (p.is_calendar
                                        or p.millis >= 86_400_000)
    filtered = query.get("filter") is not None
    if not filtered and day_or_coarser:
        # no dim filter → the aggregated buckets and the segment timeline
        # see the SAME rows, and every covered bucket of a day-or-coarser
        # grain is already present: zero-fill is a no-op
        return out
    spine_ms: list[int] = []
    for start, end in ivs:
        spine_ms.extend(gran.spine(start, end))
    if not spine_ms or len(spine_ms) > 500_000:
        return out
    spine_ms = sorted(set(spine_ms))
    # exact timeline condensation at the OUTER edges: Druid's last segment
    # carries the data's true extent, so hour buckets of a partially-filled
    # final day don't zero-fill past maxTime (testTimeseriesQueryZeroFilling
    # ends at 2011-04-15T00, not T23).  The timeline's parquet footer
    # statistics give the same [minTime, maxTime] driver-side with zero
    # data read; without them the coarser day coverage stays.
    tl = catalog.timeline(_base_table(query["dataSource"]))
    extent = tl.extent if tl is not None else None
    if extent is not None:
        mn, mx = extent
        lo = 0
        for i, m in enumerate(spine_ms):  # bucket containing minTime stays
            if m <= mn:
                lo = i
            else:
                break
        spine_ms = [m for m in spine_ms[lo:] if m <= mx]
        if not spine_ms:
            return out
    # Druid only produces buckets where SEGMENTS exist: the broker condenses
    # query intervals to the segment timeline before zero-filling, so a
    # 1970-2020 query over 2011 data returns only 2011 buckets
    # (testTimeseriesWithFirstLastAggregator runs FULL_ON and expects 4
    # months, not 600), an INTERIOR day with no segment produces no bucket,
    # and an hour inside a day segment zero-fills even when no row matches
    # (testTimeseriesQueryZeroFilling fills all 24 hours of a day whose only
    # row is at 00:00).  Coverage is a property of the DATASOURCE, not the
    # filtered rows — a filter matching nothing still fills every covered
    # bucket (testTimeseriesWithNonExistentFilter) — so the segment-day set
    # (default segmentGranularity = DAY) comes from the UNFILTERED source,
    # interval-pruned only.
    days = (tl.segment_days(ivs) if filtered and tl is not None
            and "__bucket" in src.columns else None)
    if days is not None:
        # segment days known on the driver: prune the spine here
        if day_or_coarser:
            # bucket >= a day: keep buckets holding at least one segment day
            keep = {gran.spine(d, d + 1)[0] for d in days}
            spine_ms = [m for m in spine_ms if m in keep]
        else:
            # sub-day buckets: keep those inside a segment day
            keep = set(days)
            spine_ms = [m for m in spine_ms if m - m % 86_400_000 in keep]
    spine = spark.createDataFrame([(m,) for m in spine_ms], "ms long") \
        .select(F.timestamp_millis(F.col("ms")).alias(TIME_COLUMN))
    if days is None:
        # coverage from rows: for sub-day buckets with no dim filter, the
        # distinct days of the present buckets (no second source scan);
        # for a filtered query over a source without a `__bucket` listing,
        # a distinct-days scan of the interval-pruned source (reads only
        # __time).  Lazy broadcast semi-join keeps translate() action-free.
        rows = (src.filter(interval_predicate(ivs, F.col(TIME_COLUMN)))
                if filtered else out)
        seg_days = rows.select(F.date_trunc("day", F.col(TIME_COLUMN))
                               .alias("__seg_day")).distinct()
        if day_or_coarser:
            cond = gran.floor(F.col("__seg_day")) == F.col(TIME_COLUMN)
        else:
            cond = (F.date_trunc("day", F.col(TIME_COLUMN))
                    == F.col("__seg_day"))
        spine = spine.join(F.broadcast(seg_days), cond, "left_semi")
    joined = F.broadcast(spine).join(out, on=TIME_COLUMN, how="left")
    # aggregator identity values for empty buckets
    fills = []
    for spec in query.get("aggregations") or []:
        if spec["type"] == "filtered":
            # wrapper name wins, delegate only as fallback
            # (FilteredAggregatorFactory.getName); the TYPE is always the
            # delegate's
            name = spec.get("name") or spec["aggregator"].get("name")
            atype = spec["aggregator"]["type"]
        else:
            name = spec.get("name")
            atype = spec["type"]
        legacy = bool(query.get("context", {}).get("useDefaultValueForNull"))
        state_mode = query.get("context", {}).get("finalize") is False
        if atype in ("cardinality", "hyperUnique") and state_mode:
            # finalize=false: the column is sketch STATE (binary) — an
            # empty bucket's state is NULL, not 0
            fills.append(F.col(name))
        elif atype in ("count", "cardinality", "hyperUnique"):
            # counting aggregators are 0 over an empty bucket in both modes
            fills.append(F.coalesce(F.col(name), F.lit(0)).alias(name))
        elif atype in ("longSum", "doubleSum", "floatSum"):
            # sums over zero rows are NULL in SQL-compatible mode (the
            # aggregator's initial value — TimeseriesQueryRunnerTest
            # testTimeseriesWithNonExistentFilter asserts
            # NullHandling.defaultDoubleValue()); 0 only in legacy mode
            if legacy:
                zero = 0 if atype == "longSum" else 0.0
                fills.append(F.coalesce(F.col(name), F.lit(zero)).alias(name))
            else:
                fills.append(F.col(name))
        else:
            fills.append(F.col(name))
    if not (query.get("aggregations") or []):
        fills = [F.coalesce(F.col("count"), F.lit(0)).alias("count")]
    return joined.select(TIME_COLUMN, *fills)


def _base_table(ds) -> str | None:
    """The table whose timeline covers a datasource: the table itself, or
    the innermost table of a query datasource.  None for join, union,
    inline and lookup datasources, whose rows mix several inputs or none."""
    while isinstance(ds, dict) and ds.get("type") == "query":
        ds = ds["query"].get("dataSource")
    if isinstance(ds, dict) and ds.get("type") in ("table", "globalTable"):
        ds = ds.get("name")
    return ds if isinstance(ds, str) else None
