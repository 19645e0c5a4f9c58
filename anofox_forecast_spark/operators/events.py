"""Event-stream analytics: gap-based sessionization and as-of joins.

Beyond-parity surface (BASELINE.json north star): the two event-table
operations every large-scale analytics engine is asked for —

- :func:`sessionize` — split each key's event stream into sessions at
  inactivity gaps (the canonical clickstream/telemetry operator).
- :func:`session_stats` — one row per session (bounds, duration, counts,
  deterministic value sum).
- :func:`asof_join` — for every left row, the most recent right row at or
  before its timestamp (market-data/state-lookup semantics; DuckDB/kdb
  ``ASOF JOIN``). Spark has no built-in; the classic scalable encoding is
  the union-and-window trick below.

Scale design: all three are ONE shuffle on the join/session key. The
as-of join never builds a range product: left and right are unioned,
sorted once per key, and the match is a running ``last(ignorenulls)`` —
O(n log n) per key, constant memory per row, skew handled by AQE the same
as any window. ``sessionize`` is two window passes over one partitioning
(lag + running sum — Catalyst plans them in a single sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sqltext import q


def _us(col: Column) -> Column:
    """Exact epoch microseconds for TIMESTAMP **or** TIMESTAMP_NTZ input
    (parquet written with isAdjustedToUTC=false arrives as NTZ; the cast
    is value-preserving under the session factory's UTC timezone and a
    no-op for already-zoned timestamps)."""
    return F.unix_micros(col.cast("timestamp"))


def sessionize(df: DataFrame, key_col: str, ts_col: str,
               gap_seconds: float = 1800.0,
               order_cols: list[str] | None = None) -> DataFrame:
    """Assign a per-key session sequence number: a new session starts at the
    first event and whenever the gap since the previous event exceeds
    ``gap_seconds`` (strictly greater, so a gap of exactly ``gap_seconds``
    stays in-session). Output: input columns + ``session_seq`` (1-based per
    key) + ``is_session_start``.

    Gap comparison is exact integer microsecond arithmetic
    (``unix_micros``), so engine parity does not depend on float rounding.
    ``order_cols`` breaks timestamp ties deterministically (defaults to the
    timestamp alone — pass an event id when keys can emit simultaneous
    events).
    """
    order = ", ".join(q(c) for c in [ts_col, *(order_cols or [])])
    w = f"PARTITION BY {q(key_col)} ORDER BY {order}"
    gap_us = int(round(float(gap_seconds) * 1_000_000))
    t = q(ts_col)
    prev = f"lag({t}) OVER ({w})"
    is_new = (f"{prev} IS NULL OR (unix_micros(CAST({t} AS TIMESTAMP)) - "
              f"unix_micros(CAST({prev} AS TIMESTAMP))) > {gap_us}")
    run = (f"sum(CAST(is_session_start AS BIGINT)) OVER ({w} "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return (df.withColumn("is_session_start", F.expr(is_new))
              .withColumn("session_seq", F.expr(run)))


def session_stats(df: DataFrame, key_col: str, ts_col: str,
                  value_col: str | None = None,
                  gap_seconds: float = 1800.0,
                  order_cols: list[str] | None = None) -> DataFrame:
    """One row per session: ``(key, session_seq, n_events, ts_start,
    ts_end, duration_seconds[, value_sum])``.

    ``value_sum`` folds the session's values in (ts, order_cols) order —
    a sequential sum over the sorted member list, deterministic on any
    partitioning (and replayable by an engine-side ordered list fold),
    unlike a bare ``F.sum`` whose float accumulation order is
    partition-dependent. Sessions are bounded by the inactivity gap, so
    the per-session list is bounded by construction.
    """
    s = sessionize(df, key_col, ts_col, gap_seconds, order_cols)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("ts_start"),
        F.max(ts_col).alias("ts_end"),
    ]
    if value_col is not None:
        order_struct = F.struct(
            F.col(ts_col), *[F.col(c) for c in (order_cols or [])],
            F.col(value_col).alias("__v"))
        aggs.append(F.aggregate(
            F.array_sort(F.collect_list(order_struct)),
            F.lit(0.0), lambda acc, x: acc + x["__v"]).alias("value_sum"))
    out = s.groupBy(key_col, "session_seq").agg(*aggs)
    dur = ((_us(F.col("ts_end")) - _us(F.col("ts_start")))
           .cast("double") / F.lit(1_000_000.0))
    return out.withColumn("duration_seconds", dur)


def funnel(df: DataFrame, key_col: str, ts_col: str, type_col: str,
           steps: list[str], within_seconds: float | None = None,
           max_events_per_key: int | None = None) -> DataFrame:
    """Funnel analysis (first-touch convention): for every key, how far
    through the ordered ``steps`` sequence its event stream progresses.
    Step 1 anchors at the key's EARLIEST step-1 event; each later step
    matches its earliest event STRICTLY after the previous step's match;
    ``within_seconds`` bounds the whole funnel from the step-1 anchor.

    Output: ``(<key>, steps_completed, converted, step_1_ts..step_k_ts)``.
    Greedy earliest matching makes per-step times the conditional minima —
    the convention every funnel tool (and the SQL oracle) uses.

    Scale shape: events are filtered to the funnel's types FIRST (the
    hard prune — funnels are over rare event types), then one groupBy
    collects each key's pruned, sorted (ts, type) list and a single
    JVM-side ``aggregate`` fold walks it — one shuffle, no iteration, no
    Python. Per-key state is the pruned event list; ``max_events_per_key``
    caps it (row_number over the fold's own (ts, type) ordering, keeping
    the EARLIEST events — greedy matching never consults later ones
    unless earlier ones miss, so the cap only affects pathological keys)
    so one hot key can't hold a whole key-group's event list in a single
    executor's memory at 100 TB.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if max_events_per_key is not None and max_events_per_key < 1:
        raise ValueError("max_events_per_key must be >= 1")
    k = len(steps)
    lit_steps = F.array(*[F.lit(s) for s in steps])
    win_us = (None if within_seconds is None
              else int(round(float(within_seconds) * 1_000_000)))
    ev = (df.filter(F.col(type_col).isin(list(steps)))
            .select(F.col(key_col), _us(F.col(ts_col)).alias("__us"),
                    F.col(type_col).alias("__ty")))
    if max_events_per_key is not None:
        # Same total order as the fold's array_sort(struct(us, ty)): rows
        # that tie on both are identical post-prune, so the kept multiset
        # is deterministic on any partitioning.
        wcap = Window.partitionBy(key_col).orderBy("__us", "__ty")
        ev = (ev.withColumn("__rn", F.row_number().over(wcap))
                .filter(F.col("__rn") <= max_events_per_key)
                .drop("__rn"))
    arr = F.array_sort(F.collect_list(F.struct("__us", "__ty")))

    def step(acc, e):
        # F.get (0-based) is null-safe out of bounds — element_at would
        # throw under ANSI when a guard's other branch still evaluates it
        n = F.size(acc["t"])
        ok = (n < k) & (e["__ty"] == F.get(lit_steps, n))
        ok = ok & ((n == 0) | (e["__us"] > F.get(acc["t"], n - 1)))
        if win_us is not None:
            ok = ok & ((n == 0)
                       | (e["__us"] - F.get(acc["t"], 0) <= win_us))
        return F.when(ok, F.struct(
            F.concat(acc["t"], F.array(e["__us"])).alias("t"))).otherwise(acc)

    fold = F.aggregate(
        arr,
        F.struct(F.array().cast("array<long>").alias("t")),
        step)["t"]
    out = (ev.groupBy(key_col).agg(fold.alias("__t"))
             .select(key_col,
                     F.size("__t").alias("steps_completed"),
                     (F.size("__t") == k).alias("converted"),
                     *[F.timestamp_micros(F.get("__t", i))
                        .alias(f"step_{i + 1}_ts") for i in range(k)]))
    return out


def retention(df: DataFrame, key_col: str, ts_col: str,
              cohort_grain: str = "week",
              max_periods: int | None = None) -> DataFrame:
    """Cohort retention: keys are grouped into cohorts by the truncated
    time of their FIRST event; for each (cohort, period-offset) cell the
    output counts how many of the cohort's keys were active that period.
    Output: ``(cohort, period, n_active, cohort_size, retention_rate)``
    with period 0 = the cohort's own bucket (so rate 1.0 by definition).

    Scale shape: first-event per key is one min-aggregate; activity is
    deduplicated to (key, period-bucket) BEFORE counting (the count-only
    shuffle carries one row per key-period, not per event); the per-key
    cohort stamp joins back on the key — all hash joins on the key
    column, no windows, no Python. ``max_periods`` bounds the matrix.

    Period offsets use integer month arithmetic for calendar grains
    (``months_between`` on truncated buckets is exact) and epoch division
    for fixed-width grains.
    """
    if cohort_grain not in ROLLUP_GRAINS:
        raise ValueError(f"unknown grain {cohort_grain!r}; pick from "
                         f"{ROLLUP_GRAINS}")
    bucket = F.date_trunc(cohort_grain, F.col(ts_col))
    acts = (df.select(F.col(key_col).alias("__k"), bucket.alias("__b"))
              .distinct())
    first = acts.groupBy("__k").agg(F.min("__b").alias("cohort"))
    joined = acts.join(first, "__k")
    if cohort_grain in ("month", "quarter", "year"):
        mdiv = {"month": 1, "quarter": 3, "year": 12}[cohort_grain]
        period = (F.months_between(F.col("__b"), F.col("cohort"))
                  / mdiv).cast("int")
    else:
        width = {"hour": 3600, "day": 86400, "week": 7 * 86400}[cohort_grain]
        period = ((_us(F.col("__b")) - _us(F.col("cohort")))
                  / F.lit(width * 1_000_000)).cast("int")
    cells = joined.withColumn("period", period)
    if max_periods is not None:
        cells = cells.filter(F.col("period") < int(max_periods))
    counts = (cells.groupBy("cohort", "period")
                   .agg(F.count_distinct("__k").alias("n_active")))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    return (counts.join(sizes, "cohort")
            .select("cohort", "period", "n_active", "cohort_size",
                    (F.col("n_active").cast("double")
                     / F.col("cohort_size")).alias("retention_rate")))


#: granularities accepted by time_rollup, in Spark/DuckDB date_trunc terms
ROLLUP_GRAINS = ("hour", "day", "week", "month", "quarter", "year")


def time_rollup(df: DataFrame, ts_col: str, value_col: str,
                granularities: tuple[str, ...] = ("hour", "day", "week"),
                key_cols: list[str] | None = None) -> DataFrame:
    """Hypertable-style multi-granularity rollup (the continuous-aggregate
    shape): one pass over the events produces per-bucket aggregates at
    EVERY requested granularity — ``(granularity, bucket[, keys], n,
    value_sum, value_min, value_max)``.

    Single-scan design: each row is exploded onto one (granularity,
    bucket-label) pair per grain (a small constant factor, e.g. 3×), then
    ONE count/sum/min/max groupBy keyed on (granularity, bucket, keys)
    aggregates everything — map-side partial aggregation means the shuffle
    carries one row per bucket per grain, not per event. The alternative
    (one groupBy per grain, unioned) scans the 100 TB input once per
    grain; this scans it once total. Coarse-grain buckets are hot reduce
    keys by construction — constant-size aggregate state, AQE handles the
    size skew.
    """
    bad = [g for g in granularities if g not in ROLLUP_GRAINS]
    if bad:
        raise ValueError(f"unknown granularities {bad}; pick from "
                         f"{ROLLUP_GRAINS}")
    keys = list(key_cols or [])
    pairs = F.explode(F.array(*[
        F.struct(F.lit(g).alias("granularity"),
                 F.date_trunc(g, F.col(ts_col)).alias("bucket"))
        for g in granularities]))
    base = df.select(*[F.col(c) for c in keys],
                     F.col(value_col).alias("__v"), pairs.alias("__gb"))
    return (base.select(*keys, F.col("__gb.granularity").alias("granularity"),
                        F.col("__gb.bucket").alias("bucket"), "__v")
            .groupBy("granularity", "bucket", *keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("__v").alias("value_sum"),
                 F.min("__v").alias("value_min"),
                 F.max("__v").alias("value_max")))


def range_join_points(points: DataFrame, intervals: DataFrame,
                      point_ts: str, start_col: str, end_col: str,
                      bucket_seconds: float = 3600.0,
                      key_col: str | None = None) -> DataFrame:
    """Range join: every point row paired with every interval row whose
    ``[start, end]`` contains its timestamp (inclusive both ends), optionally
    also matching on ``key_col``. Spark has no native range join — the
    naive encoding is a broadcast-nested-loop/cross product; this is the
    standard BINNED encoding instead: time is cut into ``bucket_seconds``
    buckets, each interval is exploded onto the buckets it covers (explode
    factor = duration/bucket + 1 — pick a bucket near the typical interval
    length), each point lands in exactly ONE bucket, and the equi-join on
    the bucket id turns the range predicate into a hash join + residual
    filter. A (point, interval) pair can meet in only the point's bucket,
    so no dedup pass is needed.

    Output: all point columns + all interval columns (names must not
    clash). Scale shape: one explode bounded by interval length, one
    hash-partitioned equi-join on (bucket[, key]) — never a cross product;
    bucket-id skew (a hot hour) is AQE's skew-join case. Malformed
    intervals (``end < start``) are dropped before the explode — they can
    never satisfy the residual and must not materialize a bucket list.
    """
    clash = [c for c in intervals.columns if c in points.columns
             and c != (key_col or "")]
    if clash:
        raise ValueError(f"column clash between sides: {clash}")
    bus = int(round(float(bucket_seconds) * 1_000_000))
    if bus <= 0:
        raise ValueError("bucket_seconds must be positive")
    p = points.withColumn("__b", F.expr(
        f"unix_micros(cast({point_ts} as timestamp)) div {bus}"))
    # drop malformed intervals (end < start) BEFORE the explode: they can
    # never satisfy the residual start <= ts <= end, but an unguarded
    # descending sequence() would still materialize a bucket list per bad
    # row — corrupt data must not cost memory
    i = (intervals
         .filter(_us(F.col(end_col)) >= _us(F.col(start_col)))
         .withColumn(
             "__b", F.explode(F.sequence(
                 F.expr(f"unix_micros(cast({start_col} as timestamp))"
                        f" div {bus}"),
                 F.expr(f"unix_micros(cast({end_col} as timestamp))"
                        f" div {bus}")))))
    on = ["__b"] + ([key_col] if key_col else [])
    cond = ((_us(F.col(point_ts)) >= _us(F.col(start_col)))
            & (_us(F.col(point_ts)) <= _us(F.col(end_col))))
    return (p.join(i, on=on).filter(cond).drop("__b"))


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          l_start: str, l_end: str, r_start: str,
                          r_end: str, bucket_seconds: float = 3600.0,
                          key_col: str | None = None) -> DataFrame:
    """Interval × interval overlap join: every (left, right) pair whose
    ``[start, end]`` ranges intersect (inclusive), optionally also matching
    on ``key_col``. The binned encoding of :func:`range_join_points`
    extended to two interval sides: both explode onto covered time
    buckets, and the pair is kept only in its CANONICAL meeting bucket —
    the bucket of ``max(l_start, r_start)``, which every overlapping pair
    covers on both sides — so the join is exactly-once with no dedup
    pass. Never a cross product. Malformed intervals (``end < start``)
    are dropped on both sides before the explode — they are corrupt data
    and must not materialize a bucket list.
    """
    clash = [c for c in right.columns if c in left.columns
             and c != (key_col or "")]
    if clash:
        raise ValueError(f"column clash between sides: {clash}")
    bus = int(round(float(bucket_seconds) * 1_000_000))
    if bus <= 0:
        raise ValueError("bucket_seconds must be positive")

    def explode_buckets(df, s, e):
        return (df.filter(_us(F.col(e)) >= _us(F.col(s)))
                  .withColumn("__b", F.explode(F.sequence(
                      F.expr(f"unix_micros(cast({s} as timestamp))"
                             f" div {bus}"),
                      F.expr(f"unix_micros(cast({e} as timestamp))"
                             f" div {bus}")))))

    l = explode_buckets(left, l_start, l_end)
    r = explode_buckets(right, r_start, r_end)
    on = ["__b"] + ([key_col] if key_col else [])
    overlap = ((_us(F.col(l_start)) <= _us(F.col(r_end)))
               & (_us(F.col(r_start)) <= _us(F.col(l_end))))
    # integer `div`, same arithmetic as the explode bounds (float floor
    # could round across a bucket edge at 2^50+ microsecond magnitudes)
    canonical = (F.col("__b") == F.expr(
        f"greatest(unix_micros(cast({l_start} as timestamp)), "
        f"unix_micros(cast({r_start} as timestamp))) div {bus}"))
    return l.join(r, on=on).filter(overlap & canonical).drop("__b")


def event_transitions(df: DataFrame, key_col: str, ts_col: str,
                      type_col: str,
                      order_cols: list[str] | None = None) -> DataFrame:
    """First-order transition matrix over each key's event stream (Markov
    path analysis: "what do users do after X?"). Output:
    ``(from_type, to_type, n_transitions, probability)`` where probability
    is row-normalized over ``from_type``.

    Scale shape: one per-key window (lead), then a count-only groupBy on
    the (from, to) pair — cardinality = |type|², tiny — and the
    normalization joins the per-from totals back. Integer counts, exact
    int/int probability division.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (df.select(F.col(type_col).alias("from_type"),
                       F.lead(F.col(type_col)).over(w).alias("to_type"))
               .filter(F.col("to_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
                   .agg(F.count(F.lit(1)).alias("n_transitions")))
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__tot"))
    return (counts.join(totals, "from_type")
            .select("from_type", "to_type", "n_transitions",
                    (F.col("n_transitions").cast("double")
                     / F.col("__tot").cast("double")).alias("probability")))


def asof_join(left: DataFrame, right: DataFrame, key_col: str,
              ts_col: str, value_cols: list[str],
              tolerance_seconds: float | None = None,
              right_ts_alias: str = "matched_ts",
              direction: str = "backward") -> DataFrame:
    """As-of join: every left row picks up ``value_cols`` from the nearest
    right row on the same key — ``direction='backward'`` (default) takes
    the most recent right row with ``right.ts <= left.ts`` (inclusive —
    equal timestamps match, like DuckDB's ``ASOF JOIN`` with ``>=``);
    ``direction='forward'`` the earliest with ``right.ts >= left.ts``.
    Unmatched left rows keep NULLs (left-join semantics).
    ``tolerance_seconds`` drops matches farther than the window.

    Implementation is the union-and-window encoding: tag sides, union,
    sort once per key by (ts, side) — right before left at equal ts, so
    equality matches; forward mode sorts ts descending, which mirrors the
    running carry — then a running ``last(ignorenulls)`` carries the
    nearest right values across; finally keep the left rows. One shuffle,
    no range cross product, bounded state per row. When several right rows
    share (key, ts), the running last takes the one latest in the sort —
    deduplicate the right side first if that order matters.

    Output: all left columns + ``value_cols`` + ``<right_ts_alias>``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    lcols = left.columns
    probe = [c for c in [*value_cols, right_ts_alias] if c in lcols]
    if probe:
        raise ValueError(f"left already has columns {probe}")
    l = left.withColumn("__side", F.lit(1))
    for c in value_cols:
        l = l.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    l = l.withColumn(right_ts_alias,
                     F.lit(None).cast(right.schema[ts_col].dataType))
    r = right.select(
        F.col(key_col), F.col(ts_col), F.lit(0).alias("__side"),
        *[F.col(c) for c in value_cols],
        F.col(ts_col).alias(right_ts_alias),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in (key_col, ts_col)])
    u = l.unionByName(r)
    ts_order = (F.col(ts_col).asc() if direction == "backward"
                else F.col(ts_col).desc())
    w = (Window.partitionBy(key_col)
         .orderBy(ts_order, F.col("__side"))
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = [F.last(c, ignorenulls=True).over(w).alias(c)
               for c in [*value_cols, right_ts_alias]]
    out = (u.select(*[F.col(c) for c in lcols], F.col("__side"), *carried)
            .filter(F.col("__side") == 1).drop("__side"))
    if tolerance_seconds is not None:
        tol_us = int(round(float(tolerance_seconds) * 1_000_000))
        gap = (_us(F.col(ts_col)) - _us(F.col(right_ts_alias))
               if direction == "backward"
               else _us(F.col(right_ts_alias)) - _us(F.col(ts_col)))
        fresh = gap <= F.lit(tol_us)
        out = out.select(
            *[F.col(c) for c in lcols],
            *[F.when(fresh, F.col(c)).alias(c)
              for c in [*value_cols, right_ts_alias]])
    return out
