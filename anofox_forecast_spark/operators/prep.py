"""Data-preparation operators (SURVEY.md §2.3).

Parity targets (all pure Spark SQL — no UDFs anywhere in this module):

- gap filling: ``ts_fill_gaps_by`` / ``ts_fill_forward_by``
  (macros ``ts_macros.cpp:348-380``; semantics from
  ``crates/anofox-fcst-core/src/gaps.rs:78-369``)
- imputation: ``ts_fill_nulls_{const,forward,backward,mean}_by``
  (macros ``ts_macros.cpp:261-320``) — all columns preserved plus a new
  ``filled_value`` column
- differencing: ``ts_diff_by`` (macro ``ts_macros.cpp:323-345``) — note the
  reference computes ``y - lag(y, diff_order)`` (a lag-distance diff, not an
  iterated difference)
- series filters: ``ts_drop_{constant,short,gappy,zeros}_by`` and edge-zero
  trims (macros ``ts_macros.cpp:174-258,383-416``)
- leakage tooling: ``ts_mark_unknown_by`` / ``ts_fill_unknown_by``
  (macros ``ts_macros.cpp:944-1020``), ``ts_validate_timestamps_by`` (+summary,
  ``ts_macros.cpp:1021-1120``), ``ts_check_leakage`` (``ts_macros.cpp:1319``)

Scale notes: the drop_* filters avoid a second scan of the source by using a
window-aggregate instead of the reference's IN-subquery (one shuffle on the
group key, no self-join). Gap filling generates rows from per-pair lag
deltas — no per-group collect, O(1) state per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frequency import Frequency, parse_frequency
from ..sqltext import dbl, q

# ---------------------------------------------------------------------------
# Gap filling
# ---------------------------------------------------------------------------

def _month_unit_index(col: Column, n_months: int) -> Column:
    """Ordinal index of the n_months-sized calendar unit containing col."""
    return F.floor((F.year(col) * 12 + F.month(col) - 1) / n_months)


def _unit_start(col: Column, n_months: int) -> Column:
    if n_months % 12 == 0:
        return F.date_trunc("year", col)
    if n_months % 3 == 0:
        return F.date_trunc("quarter", col)
    return F.date_trunc("month", col)


def _month_unit_index_sql(col: str, n_months: int) -> str:
    """SQL-text form of :func:`_month_unit_index`."""
    return f"FLOOR((year({col}) * 12 + month({col}) - 1) / {n_months})"


def _unit_start_sql(col: str, n_months: int) -> str:
    """SQL-text form of :func:`_unit_start`."""
    unit = ("year" if n_months % 12 == 0 else
            "quarter" if n_months % 3 == 0 else "month")
    return f"date_trunc('{unit}', {col})"


def ts_fill_gaps_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                    frequency) -> DataFrame:
    """Insert missing timestamps between consecutive observations, NULL-valued.

    Fixed frequencies: between each consecutive pair, insert
    ``prev + k*freq`` for ``k = 1 .. floor(gap/freq) - 1`` (ref
    ``gaps.rs:111-143``). Calendar frequencies insert unit-start dates between
    the pair's calendar units (ref ``gaps.rs:145-260``).

    Single-pass plan: each row explodes into itself + the gap rows up to the
    NEXT observation (``lead``). A union formulation would make Spark scan
    and aggregate the source once per branch; this shape is one scan, one
    series-key shuffle, one Window, one Generate.
    """
    freq = parse_frequency(frequency)
    ds_type = df.schema[ds_col].dataType
    y_type = df.schema[y_col].dataType
    g, ds, y = q(group_col), q(ds_col), q(y_col)
    dst, yt = ds_type.simpleString(), y_type.simpleString()
    base = df.selectExpr(g, ds, y)
    nxt = f"lead({ds}) OVER (PARTITION BY {g} ORDER BY {ds})"

    if freq.kind == "int" or isinstance(ds_type, (T.IntegerType, T.LongType)):
        step = freq.n if freq.kind == "int" else 1
        k = f"FLOOR(({nxt} - {ds}) / {step}) - 1"
        gap_ds = f"CAST({ds} + x * {step} AS {dst})"
    elif freq.kind == "month":
        n = freq.n
        k = (f"{_month_unit_index_sql(nxt, n)} - "
             f"{_month_unit_index_sql(ds, n)} - 1")
        gap_ds = f"CAST(add_months({_unit_start_sql(ds, n)}, x * {n}) AS {dst})"
    else:
        sec = freq.n
        gap_s = (f"CAST(CAST({nxt} AS TIMESTAMP) AS DOUBLE) - "
                 f"CAST(CAST({ds} AS TIMESTAMP) AS DOUBLE)")
        k = f"FLOOR(({gap_s}) / {sec}) - 1"
        gap_ds = (f"CAST(timestampadd(SECOND, CAST(x * {sec} AS BIGINT), "
                  f"CAST({ds} AS TIMESTAMP)) AS {dst})")

    arr_t = T.ArrayType(T.StructType([T.StructField("ds", ds_type),
                                      T.StructField("y", y_type)]))
    entries = (
        f"concat(array(struct({ds} AS ds, CAST({y} AS {yt}) AS y)), "
        f"CASE WHEN {k} >= 1 THEN transform(sequence(1, {k}), "
        f"x -> struct({gap_ds} AS ds, CAST(NULL AS {yt}) AS y)) "
        f"ELSE CAST(array() AS {arr_t.simpleString()}) END)")
    return (base.withColumn("__e", F.expr(entries))
            .selectExpr(g, "explode(__e) AS __x")
            .selectExpr(g, f"__x.ds AS {ds}", f"__x.y AS {y}"))


def ts_fill_forward_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                       target_date, frequency) -> DataFrame:
    """Extend each series forward to ``target_date`` with NULL values
    (ref ``gaps.rs:282-369``). Calendar frequencies generate unit-start dates
    strictly after the last observation and ≤ target."""
    freq = parse_frequency(frequency)
    ds_type = df.schema[ds_col].dataType
    y_type = df.schema[y_col].dataType
    base = df.select(group_col, ds_col, y_col)
    target = F.lit(target_date).cast(ds_type)
    # single pass: the per-group LAST row (lead(ds) IS NULL) explodes into
    # itself + the forward extension; every other row passes through
    w = Window.partitionBy(group_col).orderBy(ds_col)
    is_last = F.lead(F.col(ds_col)).over(w).isNull()
    ds = F.col(ds_col)

    arr_t = T.ArrayType(T.StructType([T.StructField("ds", ds_type),
                                      T.StructField("y", y_type)]))
    if freq.kind == "int" or isinstance(ds_type, (T.IntegerType, T.LongType)):
        step = freq.n if freq.kind == "int" else 1
        k = F.floor((target - ds) / step)
        ext = F.transform(F.sequence(F.lit(1), k),
                          lambda s: F.struct((ds + s * step).cast(ds_type).alias("ds"),
                                             F.lit(None).cast(y_type).alias("y")))
    elif freq.kind == "month":
        n = freq.n
        k = _month_unit_index(target, n) - _month_unit_index(ds, n)
        ext = F.filter(
            F.transform(F.sequence(F.lit(1), k),
                        lambda s: F.struct(
                            F.add_months(_unit_start(ds, n), s * n)
                             .cast(ds_type).alias("ds"),
                            F.lit(None).cast(y_type).alias("y"))),
            lambda e: (e["ds"] > ds) & (e["ds"] <= target))
    else:
        sec = freq.n
        gap_s = (target.cast("timestamp").cast("double")
                 - ds.cast("timestamp").cast("double"))
        k = F.floor(gap_s / sec)
        ext = F.transform(
            F.sequence(F.lit(1), k),
            lambda s: F.struct(
                F.timestamp_add("SECOND", (s * sec).cast("long"),
                                ds.cast("timestamp")).cast(ds_type).alias("ds"),
                F.lit(None).cast(y_type).alias("y")))

    self_entry = F.array(F.struct(ds.alias("ds"),
                                  F.col(y_col).cast(y_type).alias("y")))
    entries = F.when(is_last & (k >= 1), F.concat(self_entry, ext)) \
               .otherwise(self_entry).cast(arr_t)
    return (base.withColumn("__e", entries)
            .select(group_col, F.explode("__e").alias("__x"))
            .select(F.col(group_col), F.col("__x.ds").alias(ds_col),
                    F.col("__x.y").alias(y_col)))


# ---------------------------------------------------------------------------
# Imputation: all input columns preserved + `filled_value`
# ---------------------------------------------------------------------------

def ts_fill_nulls_const_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                           fill_value: float) -> DataFrame:
    return df.withColumn("filled_value", F.coalesce(F.col(y_col), F.lit(fill_value)))


def ts_fill_nulls_forward_by(df: DataFrame, group_col: str, ds_col: str,
                             y_col: str) -> DataFrame:
    w = (Window.partitionBy(group_col).orderBy(ds_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(
        "filled_value", F.coalesce(F.col(y_col),
                                   F.last(F.col(y_col), ignorenulls=True).over(w)))


def ts_fill_nulls_backward_by(df: DataFrame, group_col: str, ds_col: str,
                              y_col: str) -> DataFrame:
    w = (Window.partitionBy(group_col).orderBy(ds_col)
         .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    return df.withColumn(
        "filled_value", F.coalesce(F.col(y_col),
                                   F.first(F.col(y_col), ignorenulls=True).over(w)))


def ts_fill_nulls_mean_by(df: DataFrame, group_col: str, ds_col: str,
                          y_col: str) -> DataFrame:
    w = Window.partitionBy(group_col)
    return df.withColumn(
        "filled_value", F.coalesce(F.col(y_col), F.avg(F.col(y_col)).over(w)))


def ts_interpolate_by(df: DataFrame, group_col: str, ds_col: str, y_col: str) -> DataFrame:
    """Linear position-based interpolation as a standalone operator
    (the forecast preprocessing of ``imputation.rs:62`` exposed table-level);
    adds ``filled_value``."""
    from .forecast import interpolate_nulls_df
    out = interpolate_nulls_df(df.withColumn("__orig", F.col(y_col)),
                               group_col, ds_col, y_col)
    return (out.withColumn("filled_value", F.col(y_col))
               .withColumn(y_col, F.col("__orig")).drop("__orig"))


# ---------------------------------------------------------------------------
# Differencing
# ---------------------------------------------------------------------------

def ts_diff_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
               diff_order: int = 1) -> DataFrame:
    w = Window.partitionBy(group_col).orderBy(ds_col)
    return df.select(
        group_col, ds_col,
        (F.col(y_col) - F.lag(F.col(y_col), int(diff_order)).over(w)).alias("diff_value"),
    )


# ---------------------------------------------------------------------------
# Series filters (window-aggregate semi-filters — single shuffle, no self-join)
# ---------------------------------------------------------------------------

def _keep_groups(df: DataFrame, group_col: str, keep: Column) -> DataFrame:
    w = Window.partitionBy(group_col)
    return (df.withColumn("__keep", keep.over(w) if hasattr(keep, "over") else keep)
              .filter(F.col("__keep")).drop("__keep"))


def ts_drop_constant_by(df: DataFrame, group_col: str, y_col: str) -> DataFrame:
    w = Window.partitionBy(group_col)
    y = F.col(y_col)
    keep = ((F.min(y).over(w) != F.max(y).over(w))
            | F.min(y).over(w).isNull() | F.max(y).over(w).isNull())
    return df.withColumn("__keep", keep).filter(F.col("__keep")).drop("__keep")


def ts_drop_short_by(df: DataFrame, group_col: str, min_length: int) -> DataFrame:
    w = Window.partitionBy(group_col)
    return (df.withColumn("__n", F.count(F.lit(1)).over(w))
              .filter(F.col("__n") >= int(min_length)).drop("__n"))


def ts_drop_gappy_by(df: DataFrame, group_col: str, y_col: str,
                     max_gap_ratio: float) -> DataFrame:
    w = Window.partitionBy(group_col)
    y = F.col(y_col)
    ratio = (F.sum(F.when(y.isNull(), 1).otherwise(0)).over(w).cast("double")
             / F.count(F.lit(1)).over(w))
    return (df.withColumn("__r", ratio)
              .filter(F.col("__r") <= float(max_gap_ratio)).drop("__r"))


def ts_drop_zeros_by(df: DataFrame, group_col: str, y_col: str) -> DataFrame:
    w = Window.partitionBy(group_col)
    y = F.col(y_col)
    nz = F.sum(F.when((y != 0) & y.isNotNull(), 1).otherwise(0)).over(w)
    return df.withColumn("__nz", nz).filter(F.col("__nz") > 0).drop("__nz")


def ts_drop_leading_zeros_by(df: DataFrame, group_col: str, ds_col: str,
                             y_col: str) -> DataFrame:
    w = Window.partitionBy(group_col)
    y = F.col(y_col)
    first_nz = F.min(F.when((y != 0) & y.isNotNull(), F.col(ds_col))).over(w)
    return (df.withColumn("__fnz", first_nz)
              .filter(F.col(ds_col) >= F.col("__fnz")).drop("__fnz"))


def ts_drop_trailing_zeros_by(df: DataFrame, group_col: str, ds_col: str,
                              y_col: str) -> DataFrame:
    w = Window.partitionBy(group_col)
    y = F.col(y_col)
    last_nz = F.max(F.when((y != 0) & y.isNotNull(), F.col(ds_col))).over(w)
    return (df.withColumn("__lnz", last_nz)
              .filter(F.col(ds_col) <= F.col("__lnz")).drop("__lnz"))


def ts_drop_edge_zeros_by(df: DataFrame, group_col: str, ds_col: str,
                          y_col: str) -> DataFrame:
    w = Window.partitionBy(group_col)
    y = F.col(y_col)
    first_nz = F.min(F.when((y != 0) & y.isNotNull(), F.col(ds_col))).over(w)
    last_nz = F.max(F.when((y != 0) & y.isNotNull(), F.col(ds_col))).over(w)
    return (df.withColumn("__fnz", first_nz).withColumn("__lnz", last_nz)
              .filter((F.col(ds_col) >= F.col("__fnz")) & (F.col(ds_col) <= F.col("__lnz")))
              .drop("__fnz", "__lnz"))


# ---------------------------------------------------------------------------
# Unknown-value masking (CV leakage prevention)
# ---------------------------------------------------------------------------

def ts_mark_unknown_by(df: DataFrame, group_col: str, ds_col: str,
                       cutoff_date) -> DataFrame:
    """All columns + ``is_unknown`` (ds > cutoff) + per-group
    ``last_known_date`` (max ds ≤ cutoff). Ref macro ``ts_macros.cpp:944-977``."""
    w = Window.partitionBy(group_col)
    cutoff = F.lit(cutoff_date).cast("timestamp")
    dt = F.date_trunc("second", F.col(ds_col).cast("timestamp"))
    return (df.withColumn("is_unknown", dt > cutoff)
              .withColumn("last_known_date",
                          F.max(F.when(dt <= cutoff, dt)).over(w)))


def ts_fill_unknown_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                       cutoff_date, params: dict | None = None) -> DataFrame:
    """Mask post-cutoff values by strategy ``last_value|null|default``
    (ref macro ``ts_macros.cpp:979-1020``). Output ``(group, ds, y)`` with
    caller names."""
    params = dict(params or {})
    strategy = params.get("strategy", "last_value")
    fill_value = float(params.get("fill_value", 0.0))
    cutoff = F.lit(cutoff_date).cast("timestamp")
    dt = F.date_trunc("second", F.col(ds_col).cast("timestamp"))
    y = F.col(y_col)
    w = (Window.partitionBy(group_col).orderBy(dt)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if strategy == "null":
        masked = F.when(dt <= cutoff, y).otherwise(F.lit(None))
    elif strategy == "default":
        masked = F.when(dt <= cutoff, y).otherwise(F.lit(fill_value))
    elif strategy == "last_value":
        masked = F.when(dt <= cutoff, y).otherwise(
            F.last(F.when(dt <= cutoff, y), ignorenulls=True).over(w))
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return df.select(F.col(group_col), dt.alias(ds_col), masked.alias(y_col))


# ---------------------------------------------------------------------------
# Timestamp validation
# ---------------------------------------------------------------------------

def ts_validate_timestamps_by(df: DataFrame, group_col: str, ds_col: str,
                              expected_timestamps: list) -> DataFrame:
    """Per group: (group, is_valid, n_expected, n_found, n_missing,
    missing_timestamps) — ref macro ``ts_macros.cpp:1021-1066``."""
    spark = df.sparkSession
    src = (df.select(F.col(group_col),
                     F.date_trunc("second", F.col(ds_col).cast("timestamp")).alias("__dt"))
             .distinct())
    exp = spark.createDataFrame([(str(t),) for t in expected_timestamps], ["__raw"]) \
               .select(F.date_trunc("second", F.col("__raw").cast("timestamp")).alias("__exp"))
    found = src.select(F.col(group_col).alias("__g2"), F.col("__dt"),
                       F.lit(True).alias("__hit"))
    groups = src.select(group_col).distinct()
    all_exp = groups.crossJoin(F.broadcast(exp))
    joined = (all_exp.join(found,
                           (all_exp[group_col] == found["__g2"])
                           & (all_exp["__exp"] == found["__dt"]), "left")
              .select(all_exp[group_col], all_exp["__exp"],
                      F.coalesce(F.col("__hit"), F.lit(False)).alias("__found")))
    return (joined.groupBy(group_col).agg(
        F.min(F.col("__found")).alias("is_valid"),
        F.count(F.lit(1)).alias("n_expected"),
        F.sum(F.when(F.col("__found"), 1).otherwise(0)).cast("long").alias("n_found"),
        F.sum(F.when(~F.col("__found"), 1).otherwise(0)).cast("long").alias("n_missing"),
        F.sort_array(F.collect_list(F.when(~F.col("__found"), F.col("__exp"))))
         .alias("missing_timestamps"),
    ))


def ts_validate_timestamps_summary_by(df: DataFrame, group_col: str, ds_col: str,
                                      expected_timestamps: list) -> DataFrame:
    per_group = ts_validate_timestamps_by(df, group_col, ds_col, expected_timestamps)
    return per_group.agg(
        F.min("is_valid").alias("all_valid"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).cast("long").alias("n_valid_groups"),
        F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)).cast("long").alias("n_invalid_groups"),
        F.collect_list(F.when(~F.col("is_valid"), F.col(group_col))).alias("invalid_groups"),
    )


def ts_check_leakage(df: DataFrame, is_test_col: str,
                     params: dict | None = None) -> DataFrame:
    """Train/test audit summary (ref macro ``ts_macros.cpp:1319-1363``)."""
    t = F.col(is_test_col)
    return df.agg(
        F.lit("Leakage check complete").alias("status"),
        F.sum(F.when(t, 1).otherwise(0)).alias("test_row_count"),
        F.sum(F.when(~t, 1).otherwise(0)).alias("train_row_count"),
        F.lit("Use ts_cv_hydrate_by + explicit column selection for fail-safe joins")
         .alias("recommendation"),
    )


# ---------------------------------------------------------------------------
# Per-series scaling / winsorization (beyond-parity prep; no reference
# equivalent — standard forecasting preprocessing, e.g. scaling before
# global models and quantile clipping before robust fits)
# ---------------------------------------------------------------------------

def _q7(arr: str, n: str, qt: float) -> str:
    """Type-7 linear-interpolated quantile of a sorted double array, SQL
    text — the exact arithmetic of ``stats.group_quantiles`` (kept
    expression-identical so the DuckDB oracles replay both bit-for-bit)."""
    ix = f"({dbl(qt)} * CAST({n} - 1 AS DOUBLE))"
    lo = f"CAST(FLOOR({ix}) AS INT)"
    frac = f"({ix} - CAST({lo} AS DOUBLE))"
    return (f"CASE WHEN {n} = 1 THEN get({arr}, 0) ELSE "
            f"get({arr}, {lo}) * (1.0D - {frac}) + "
            f"get({arr}, least({lo} + 1, {n} - 1)) * {frac} END")


def _sorted_vals(df: DataFrame, group_col: str, y_col: str) -> DataFrame:
    """Per-group value-sorted non-null double array — the deterministic
    basis for scaling stats: every fold over it is a fixed-order
    sequential sum, bit-equal on any input partitioning and replayable
    engine-side via DuckDB ``list_sort(list(y))`` + ``list_reduce``."""
    y = q(y_col)
    return df.groupBy(group_col).agg(F.expr(
        f"array_sort(collect_list(CASE WHEN {y} IS NOT NULL THEN "
        f"CAST({y} AS DOUBLE) END)) AS __v"))


def ts_scale_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                method: str = "zscore") -> DataFrame:
    """Per-series scaling: ``zscore`` ((y-mean)/std), ``minmax``
    ((y-min)/(max-min)), ``robust`` ((y-median)/IQR).

    Output: input columns + ``scale_loc``, ``scale_scale``, ``y_scaled``.
    ``y_scaled`` is NULL when y is NULL or the scale is not positive
    (constant series; zscore additionally needs n >= 2).

    Scale shape: ONE group-key shuffle to build the per-group sorted
    value array, then a broadcast join of the (n_groups)-row stats frame
    back onto the source — no second shuffle of the data. Per-group
    state is the series' value list (panel series, not 100 TB single
    groups). Determinism: mean and variance are sequential folds over
    the VALUE-SORTED array (not Spark partial aggregates), so results
    are bit-stable under repartitioning and exactly replayable by the
    DuckDB oracle's ``list_reduce`` over ``list_sort``.
    """
    if method not in ("zscore", "minmax", "robust"):
        raise ValueError(f"unknown scaling method: {method!r}")
    taken = {"scale_loc", "scale_scale", "y_scaled"} & set(df.columns)
    if taken:
        raise ValueError(f"input already has output column(s) {sorted(taken)}; "
                         f"rename or drop them first")
    base = _sorted_vals(df, group_col, y_col)
    n = "size(__v)"
    if method == "zscore":
        # n >= 1 guard: an all-NULL-y group folds an empty array, and
        # under ANSI mode the 0.0/0 mean would raise DIVIDE_BY_ZERO and
        # kill the job; CaseWhen evaluates lazily, so the division never
        # runs for that group and loc/scale come out NULL — matching the
        # TsScaleUDTF twin's NULL stats for an all-NULL partition
        loc = (f"CASE WHEN {n} >= 1 THEN aggregate(__v, 0.0D, "
               f"(x, y) -> x + y) / CAST({n} AS DOUBLE) END")
        # squared deviations via transform-then-fold: the multiply lives
        # in its own kernel on both engines (no FMA-fusion ambiguity in
        # a single a + x*x lambda)
        var = ("aggregate(transform(__v, x -> (x - __loc) * (x - __loc)), "
               f"0.0D, (x, y) -> x + y) / (CAST({n} AS DOUBLE) - 1.0D)")
        scale = f"CASE WHEN {n} >= 2 THEN sqrt({var}) END"
    elif method == "minmax":
        loc = "get(__v, 0)"
        scale = f"CASE WHEN {n} >= 1 THEN get(__v, {n} - 1) - __loc END"
    else:  # robust
        loc = _q7("__v", n, 0.5)
        scale = (f"CASE WHEN {n} >= 1 THEN {_q7('__v', n, 0.75)} - "
                 f"{_q7('__v', n, 0.25)} END")
    stats = (base.withColumn("__loc", F.expr(loc))
                 .selectExpr(q(group_col), "__loc AS scale_loc",
                             f"{scale} AS scale_scale"))
    out = _join_stats_back(df, stats, group_col)
    return out.withColumn("y_scaled", F.expr(
        "CASE WHEN scale_scale > 0 THEN "
        f"(CAST({q(y_col)} AS DOUBLE) - scale_loc) / scale_scale END"))


def _join_stats_back(df: DataFrame, stats: DataFrame,
                     group_col: str) -> DataFrame:
    """Broadcast the per-group stats frame back onto the source with a
    NULL-SAFE equality (``<=>``): a NULL group key is a group like any
    other (groupBy keeps it), so a plain equi-join would silently drop
    those rows — diverging from the ops' SQL UDTF forms, which keep
    NULL partitions. ``<=>`` is still an equi-join key, so the plan
    stays a BroadcastHashJoin."""
    sp = stats.withColumnRenamed(group_col, "__g")
    out = df.join(F.broadcast(sp), F.expr(f"{q(group_col)} <=> __g"))
    return out.drop("__g")


def ts_winsorize_by(df: DataFrame, group_col: str, ds_col: str, y_col: str,
                    lower: float = 0.01, upper: float = 0.99) -> DataFrame:
    """Per-series quantile clipping (winsorization): values below the
    per-group type-7 ``lower`` quantile are raised to it, values above
    the ``upper`` quantile lowered to it.

    Output: input columns + ``clip_lo``, ``clip_hi``, ``y_winsorized``,
    ``was_clipped``. NULL y passes through NULL / false.

    Same physical shape as ``ts_scale_by``: one group shuffle for the
    sorted array, broadcast stats join back, quantile arithmetic
    expression-identical to ``stats.group_quantiles`` (oracle-replayable).
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError("need 0 <= lower < upper <= 1")
    taken = {"clip_lo", "clip_hi", "y_winsorized",
             "was_clipped"} & set(df.columns)
    if taken:
        raise ValueError(f"input already has output column(s) {sorted(taken)}; "
                         f"rename or drop them first")
    base = _sorted_vals(df, group_col, y_col)
    stats = base.selectExpr(
        q(group_col),
        f"{_q7('__v', 'size(__v)', lower)} AS clip_lo",
        f"{_q7('__v', 'size(__v)', upper)} AS clip_hi")
    out = _join_stats_back(df, stats, group_col)
    y = f"CAST({q(y_col)} AS DOUBLE)"
    return (out.withColumn("y_winsorized", F.expr(
                f"CASE WHEN {y} < clip_lo THEN clip_lo "
                f"WHEN {y} > clip_hi THEN clip_hi ELSE {y} END"))
               .withColumn("was_clipped", F.expr(
                f"coalesce({y} < clip_lo OR {y} > clip_hi, false)")))


def ts_unscale_by(df: DataFrame, value_cols: list[str],
                  loc_col: str = "scale_loc",
                  scale_col: str = "scale_scale") -> DataFrame:
    """Inverse of :func:`ts_scale_by`: map scaled values back to original
    units via ``x * scale + loc`` — the step after forecasting a scaled
    panel (scale → fit/forecast in scaled space → unscale yhat and the
    interval bounds together). ``value_cols`` are rewritten IN PLACE;
    rows where loc/scale are NULL (or the value is NULL) yield NULL.

    ``df`` must already carry ``loc_col``/``scale_col`` — either because
    it descends from ``ts_scale_by`` output, or by joining the stats
    frame back onto forecasts (broadcast; it's one row per series). A
    pure per-row map: no shuffle, pipelines with whatever produced it.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    out = df
    for c in value_cols:
        out = out.withColumn(
            c, F.col(c).cast("double") * F.col(scale_col)
            + F.col(loc_col))
    return out
