"""Evaluation metrics (SURVEY.md §2.8).

Parity target: the 12 metrics of the reference
(``crates/anofox-fcst-core/src/metrics.rs:46-360``), exposed two ways like the
reference:

- **array form** — Column expressions over ``array<double>`` pairs, mirroring
  the DuckDB scalar functions ``ts_mae(actual[], forecast[])`` etc.
  (``src/scalar_functions/metrics.cpp``). Implemented with Spark higher-order
  functions (``zip_with``/``aggregate``) — fully JVM-side, no UDF.
- **``_by`` table form** — mirroring the ``_ts_metrics_native`` GROUP-BY-ALL
  semantics (``src/table_functions/ts_metrics_native.cpp:305-311``): group by
  every column other than the date/actual/forecast columns, emit the group
  columns + ``metric_value``.

Zero-denominator semantics follow the reference exactly: MAPE skips rows with
``|actual| <= eps`` (``metrics.rs:113-135``), sMAPE skips rows with
``|a|+|f| <= eps``, MASE/rMAE/R² return NaN when the denominator vanishes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sqltext import dbl, q

EPS = 2.220446049250313e-16  # f64::EPSILON, used by the reference

def _nan() -> Column:
    # lazy: F.lit needs an active SparkContext; the module must be
    # importable before any session exists
    return F.lit(float("nan"))


def _arr_mean(col: Column) -> Column:
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x) / F.size(col)


# ---------------------------------------------------------------------------
# Array form (Column -> Column), no Python in the data path
# ---------------------------------------------------------------------------

def ts_mae(actual: Column, forecast: Column) -> Column:
    return _arr_mean(F.zip_with(actual, forecast, lambda a, f: F.abs(a - f)))


def ts_mse(actual: Column, forecast: Column) -> Column:
    return _arr_mean(F.zip_with(actual, forecast, lambda a, f: (a - f) * (a - f)))


def ts_rmse(actual: Column, forecast: Column) -> Column:
    return F.sqrt(ts_mse(actual, forecast))


def ts_mape(actual: Column, forecast: Column) -> Column:
    pairs = F.filter(
        F.zip_with(actual, forecast, lambda a, f: F.struct(a.alias("a"), f.alias("f"))),
        lambda p: F.abs(p["a"]) > EPS,
    )
    n = F.size(pairs)
    total = F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + F.abs((p["a"] - p["f"]) / p["a"]))
    return F.when(n == 0, _nan()).otherwise(total / n * 100.0)


def ts_smape(actual: Column, forecast: Column) -> Column:
    pairs = F.filter(
        F.zip_with(actual, forecast, lambda a, f: F.struct(a.alias("a"), f.alias("f"))),
        lambda p: (F.abs(p["a"]) + F.abs(p["f"])) > EPS,
    )
    n = F.size(pairs)
    total = F.aggregate(
        pairs, F.lit(0.0),
        lambda acc, p: acc + 2.0 * F.abs(p["a"] - p["f"]) / (F.abs(p["a"]) + F.abs(p["f"])),
    )
    return F.when(n == 0, _nan()).otherwise(total / n * 100.0)


def ts_mase(actual: Column, forecast: Column, baseline: Column) -> Column:
    fmae = ts_mae(actual, forecast)
    bmae = ts_mae(actual, baseline)
    return F.when(F.abs(bmae) < EPS, _nan()).otherwise(fmae / bmae)


def ts_r2(actual: Column, forecast: Column) -> Column:
    mean = _arr_mean(actual)
    ss_res = F.aggregate(
        F.zip_with(actual, forecast, lambda a, f: (a - f) * (a - f)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # the mean rides in via array_repeat instead of being referenced
    # inside the fold lambda (r13 CSE fix): as a lambda capture the whole
    # mean fold re-ran once per ELEMENT — an O(n^2) ss_tot. Same terms,
    # same order, bit-identical.
    ss_tot = F.aggregate(
        F.zip_with(actual, F.array_repeat(mean, F.size(actual)),
                   lambda a, m: (a - m) * (a - m)),
        F.lit(0.0), lambda acc, x: acc + x)
    return F.when(F.abs(ss_tot) < EPS, _nan()).otherwise(1.0 - ss_res / ss_tot)


def ts_bias(actual: Column, forecast: Column) -> Column:
    return _arr_mean(F.zip_with(actual, forecast, lambda a, f: f - a))


def ts_rmae(actual: Column, pred1: Column, pred2: Column) -> Column:
    m1 = ts_mae(actual, pred1)
    m2 = ts_mae(actual, pred2)
    return F.when(F.abs(m2) < EPS, _nan()).otherwise(m1 / m2)


def ts_quantile_loss(actual: Column, forecast: Column, quantile: float) -> Column:
    q = F.lit(float(quantile))
    return _arr_mean(
        F.zip_with(
            actual, forecast,
            lambda a, f: F.when(a - f >= 0, q * (a - f)).otherwise((q - 1.0) * (a - f)),
        )
    )


def ts_mqloss(actual: Column, forecasts: Column, quantiles: Column) -> Column:
    """forecasts: array<array<double>> (one inner array per quantile)."""
    losses = F.zip_with(
        forecasts, quantiles,
        lambda fc, q: _arr_mean(
            F.zip_with(actual, fc,
                       lambda a, f: F.when(a - f >= 0, q * (a - f)).otherwise((q - 1.0) * (a - f)))
        ),
    )
    return _arr_mean(losses)


def ts_coverage(actual: Column, lower: Column, upper: Column) -> Column:
    n = F.size(actual)
    covered = F.size(
        F.filter(
            F.zip_with(actual, lower, lambda a, l: F.struct(a.alias("a"), l.alias("l"))),
            lambda p: p["a"] >= p["l"],
        )
    )
    # need both bounds; build (a, l, u) triples via positions
    triples = F.zip_with(
        F.zip_with(actual, lower, lambda a, l: F.struct(a.alias("a"), l.alias("l"))),
        upper,
        lambda p, u: F.struct(p["a"].alias("a"), p["l"].alias("l"), u.alias("u")),
    )
    covered = F.size(F.filter(triples, lambda t: (t["a"] >= t["l"]) & (t["a"] <= t["u"])))
    return F.when(n == 0, _nan()).otherwise(covered.cast("double") / n)


# ---------------------------------------------------------------------------
# _by table form: GROUP BY ALL remaining columns -> metric_value
# ---------------------------------------------------------------------------

def _group_cols(df: DataFrame, *consumed: str) -> list[str]:
    return [c for c in df.columns if c not in consumed]


def _grouped(df: DataFrame, group_cols: list[str], expr: str) -> DataFrame:
    agg = F.expr(f"{expr} AS metric_value")
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


_NAN = dbl(float("nan"))
_EPS = dbl(EPS)


def _pinball(a: str, f: str, q: float) -> str:
    """Pinball loss of one row, SQL text (``err * q`` or ``err * (q-1)``)."""
    err = f"({a} - {f})"
    return (f"CASE WHEN {err} >= 0 THEN {err} * {dbl(q)} "
            f"ELSE {err} * {dbl(q - 1.0)} END")


def _rowwise_metric(df: DataFrame, date_col: str, actual_col: str, forecast_col: str,
                    metric: str) -> DataFrame:
    a = q(actual_col)
    f = q(forecast_col)
    gcols = _group_cols(df, date_col, actual_col, forecast_col)
    if metric == "mae":
        expr = f"avg(abs({a} - {f}))"
    elif metric == "mse":
        expr = f"avg(({a} - {f}) * ({a} - {f}))"
    elif metric == "rmse":
        expr = f"sqrt(avg(({a} - {f}) * ({a} - {f})))"
    elif metric == "bias":
        expr = f"avg({f} - {a})"
    elif metric in ("mape", "smape"):
        if metric == "mape":
            keep = f"abs({a}) > {_EPS}"
            term = f"abs(({a} - {f}) / {a})"
        else:
            keep = f"(abs({a}) + abs({f})) > {_EPS}"
            term = f"abs({a} - {f}) * 2.0D / (abs({a}) + abs({f}))"
        total = f"sum(CASE WHEN {keep} THEN {term} ELSE 0.0D END)"
        n = f"sum(CASE WHEN {keep} THEN 1 ELSE 0 END)"
        expr = f"CASE WHEN {n} = 0 THEN {_NAN} ELSE {total} / {n} * 100.0D END"
    elif metric == "r2":
        ss_res = f"sum(({a} - {f}) * ({a} - {f}))"
        mean = f"avg({a})"
        ss_tot = f"(sum({a} * {a}) - count({a}) * {mean} * {mean})"
        expr = (f"CASE WHEN abs({ss_tot}) < {_EPS} THEN {_NAN} "
                f"ELSE 1.0D - {ss_res} / {ss_tot} END")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return _grouped(df, gcols, expr)


def ts_mae_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "mae")


def ts_mse_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "mse")


def ts_rmse_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "rmse")


def ts_mape_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "mape")


def ts_smape_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "smape")


def ts_r2_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "r2")


def ts_bias_by(df, date_col, actual_col, forecast_col):
    return _rowwise_metric(df, date_col, actual_col, forecast_col, "bias")


def _mae_ratio_by(df: DataFrame, gcols: list[str], a: str, p1: str,
                  p2: str) -> DataFrame:
    m1 = f"avg(abs({a} - {p1}))"
    m2 = f"avg(abs({a} - {p2}))"
    return _grouped(df, gcols, f"CASE WHEN abs({m2}) < {_EPS} THEN {_NAN} "
                               f"ELSE {m1} / {m2} END")


def ts_mase_by(df: DataFrame, date_col: str, actual_col: str, forecast_col: str,
               baseline_col: str) -> DataFrame:
    gcols = _group_cols(df, date_col, actual_col, forecast_col, baseline_col)
    return _mae_ratio_by(df, gcols, q(actual_col), q(forecast_col),
                         q(baseline_col))


def ts_rmae_by(df: DataFrame, date_col: str, actual_col: str, pred1_col: str,
               pred2_col: str) -> DataFrame:
    gcols = _group_cols(df, date_col, actual_col, pred1_col, pred2_col)
    return _mae_ratio_by(df, gcols, q(actual_col), q(pred1_col),
                         q(pred2_col))


def ts_mqloss_by(df: DataFrame, date_col: str, actual_col: str,
                 forecast_cols: list[str], quantiles: list[float]) -> DataFrame:
    """Grouped multi-quantile loss: mean over quantiles of the pinball loss
    of each quantile forecast column (ref ``metrics.rs`` MQLoss; grouped form
    of the scalar ``ts_mqloss``). One aggregation pass, no UDF."""
    if len(forecast_cols) != len(quantiles):
        raise ValueError("forecast_cols and quantiles must have equal length")
    if not forecast_cols:
        raise ValueError("at least one (forecast_col, quantile) pair required")
    for qt in quantiles:
        if not (0.0 <= float(qt) <= 1.0):
            raise ValueError("Quantile must be between 0 and 1")
    gcols = _group_cols(df, date_col, actual_col, *forecast_cols)
    total = " + ".join(f"avg({_pinball(q(actual_col), q(c), float(qt))})"
                       for c, qt in zip(forecast_cols, quantiles))
    return _grouped(df, gcols,
                    f"({total}) / {dbl(float(len(forecast_cols)))}")


def ts_coverage_by(df: DataFrame, date_col: str, actual_col: str, lower_col: str,
                   upper_col: str) -> DataFrame:
    a, lo, up = q(actual_col), q(lower_col), q(upper_col)
    gcols = _group_cols(df, date_col, actual_col, lower_col, upper_col)
    return _grouped(df, gcols, f"avg(CASE WHEN {a} >= {lo} AND {a} <= {up} "
                               "THEN 1.0D ELSE 0.0D END)")


def ts_quantile_loss_by(df: DataFrame, date_col: str, actual_col: str, forecast_col: str,
                        quantile: float) -> DataFrame:
    qt = float(quantile)
    if not (0.0 <= qt <= 1.0):
        raise ValueError("Quantile must be between 0 and 1")
    gcols = _group_cols(df, date_col, actual_col, forecast_col)
    return _grouped(df, gcols,
                    f"avg({_pinball(q(actual_col), q(forecast_col), qt)})")
