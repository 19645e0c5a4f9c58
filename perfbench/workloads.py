"""The benchmark workloads.

Each workload generates its inputs from the seed, lists the operations of
one pass, and checks every operation's output after the pass. An
operation's ``build`` calls the package's public builders and returns a
fresh DataFrame every time: no DataFrame, plan or result is reused across
timed operations.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen

H = 14           # M4 Daily horizon
M = 7            # M4 Daily seasonality

#: 18 of bench.py's 31 headline keys, in bench.py's order. Left out, to
#: fit the run budget: the four that run Python workers (forecast_theta,
#: forecast_holt_winters, forecast_auto_ets, stats_sql), because starting
#: the worker pool costs ~10 s of every run and forecast_m4d measures the
#: Python path; forecast_ses and forecast_croston, fold-path models that
#: forecast_m4d runs at a larger size; and seven that share a kept key's
#: code path or operator family: forecast_seasonal_naive, forecast_sma,
#: forecast_rwd and forecast_swa build the same fold-path plan as
#: forecast_naive, metric_smape the same metric plan as metric_mae,
#: stats_bloom_contains is the second sketch key beside
#: stats_hll_distinct_raw, events_time_rollup the second events key
#: beside events_sessionize.
MIX_KEYS = ["forecast_naive", "metric_mae", "prep_fill_gaps",
            "hier_aggregate", "cv_folds", "conformal_by", "text_quality",
            "dedup_exact_groups", "dedup_minhash_lsh", "similarity_topk",
            "search_bm25", "events_sessionize", "pipeline_dup_spans",
            "stats_hll_distinct_raw", "pipeline_lm_score", "text_pii_redact",
            "prep_scale_robust", "pipeline_dsir_weights"]

#: The DuckDB oracle of dedup_minhash_lsh re-derives the JVM xxhash64 in
#: SQL and takes ~150 s on a 4-core host, so every run checks it with an
#: independent replay instead (``checks.check_minhash_pairs``).
MINHASH_KEY = "dedup_minhash_lsh"

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass
class Op:
    """One timed operation: ``build`` makes the DataFrame (driver work),
    the harness materializes it with ``toArrow()``, ``check`` validates
    the collected result afterwards."""
    name: str
    kind: str
    build: Callable
    check: Callable[[pd.DataFrame], str | None]
    series: int = 0


# --------------------------------------------------------------------------
# forecast_m4d
# --------------------------------------------------------------------------

PY_MODELS = ["AutoETS", "AutoARIMA", "OptimizedTheta", "HoltWinters"]
FOLD_MODELS = ["Naive", "SeasonalNaive", "SES", "CrostonClassic"]
SQL_MODEL = "OptimizedTheta"


def _params(model: str) -> dict:
    return {} if model in ("Naive", "SES", "CrostonClassic") else \
        {"seasonal_period": M}


class ForecastM4D:
    name = "forecast_m4d"
    uses_sql = True

    def __init__(self, seed: int, work: str, spans, n_series: int = 64,
                 n_sql: int = 16, n_sample: int = 3, long_series: int = 2):
        self.seed, self.n_series, self.spans = seed, n_series, spans
        self.long_series = long_series
        self.n_sql, self.n_sample = n_sql, n_sample
        self.path = os.path.join(work, "m4d.parquet")
        self.tiny_path = os.path.join(work, "m4d_tiny.parquet")
        # filled by the checks: model -> (kernel seconds, series, points)
        self.kernel: dict[str, tuple[float, int, int]] = {}
        # operation -> series in minus series out
        self.dropped: dict[str, int] = {}
        self.df_for_sql = None

    def prepare(self) -> dict:
        tab = gen.m4_daily_panel(self.n_series, self.seed,
                                 long_series=self.long_series)
        pq.write_table(tab, self.path)
        pq.write_table(gen.m4_daily_panel(8, self.seed + 7, long_series=0),
                       self.tiny_path)
        pdf = tab.to_pandas()
        self.series = {k: g["y"].to_numpy() for k, g in pdf.groupby("id")}
        self.last_ds = {k: g["ds"].iloc[-1] for k, g in pdf.groupby("id")}
        rng = np.random.default_rng(self.seed + 11)
        ids = sorted(self.series)
        self.sql_ids = sorted(rng.choice(ids, self.n_sql, replace=False)
                              .tolist())
        self.sample = sorted(rng.choice(ids, self.n_sample, replace=False)
                             .tolist())
        lens = np.array([len(v) for v in self.series.values()])
        return {"series": self.n_series, "rows": int(lens.sum()),
                "bytes": os.path.getsize(self.path),
                "length_min": int(lens.min()),
                "length_median": int(np.median(lens)),
                "length_max": int(lens.max()),
                "series_over_10k": int((lens > 10_000).sum()),
                "sql_series": self.n_sql}

    def _read(self, spark, path: str):
        # the panel read (footer and schema inference) is this workload's
        # input layer: it plays the part of ``sources`` in the mix
        with self.spans.span("sources.read", self.spans.current_op):
            return spark.read.parquet(path)

    def _df_op(self, spark, model: str, path: str, n: int) -> Op:
        from anofox_forecast_spark.functions.models import SQL_PATH_MODELS
        from anofox_forecast_spark.operators.forecast import ts_forecast_by
        kind = "fold" if model in SQL_PATH_MODELS else "py"

        def build():
            return ts_forecast_by(self._read(spark, path), "id", "ds", "y",
                                  model, H, "1d", _params(model))
        return Op(f"{kind}:{model}", kind, build,
                  lambda got: self._check_df(model, kind, got), n)

    def _sql_ops(self, spark, ids: list[str], path: str) -> list[Op]:
        from pyspark.sql import functions as F
        pars = json.dumps(_params(SQL_MODEL))

        def view():
            self._read(spark, path).where(F.col("id").isin(ids)) \
                .createOrReplaceTempView("m4d_subset")

        def fc():
            view()
            return spark.sql(
                "SELECT * FROM ts_forecast_by(TABLE(m4d_subset), 'id', 'ds', "
                f"'y', '{SQL_MODEL}', {H}, '1d', 0.9, '{pars}')")

        def stats():
            view()
            return spark.sql("SELECT * FROM ts_stats_by(TABLE(m4d_subset), "
                             "'id', 'ds', 'y', '1d')")
        return [Op(f"sql:{SQL_MODEL}", "sql", fc, self._check_sql_fc,
                   len(ids)),
                Op("sql:stats", "sql_stats", stats, self._check_sql_stats,
                   len(ids))]

    def warmup_ops(self, spark) -> list[Op]:
        # one operation per surface on an 8-series panel: starts the Python
        # worker pool and pays each surface's once-per-JVM costs, which
        # otherwise land on whichever operation of the pass runs first
        ops = [self._df_op(spark, "OptimizedTheta", self.tiny_path, 8),
               self._df_op(spark, "Naive", self.tiny_path, 8),
               self._sql_ops(spark, ["D0", "D1"], self.tiny_path)[0]]
        for op in ops:
            op.check = lambda got: None
        return ops

    def ops(self, spark) -> list[Op]:
        out = [self._df_op(spark, m, self.path, self.n_series)
               for m in PY_MODELS + FOLD_MODELS]
        return out + self._sql_ops(spark, self.sql_ids, self.path)

    # ---- checks ----------------------------------------------------------

    def _replay(self, model: str, ids: list[str]):
        from anofox_forecast_spark.functions import models as MOD
        out, t = {}, 0.0
        for k in ids:
            p = _params(model)
            t0 = time.perf_counter()
            r = MOD.forecast(self.series[k], H, model,
                             season_length=int(p.get("seasonal_period", 0)),
                             level=0.9, params=p)
            t += time.perf_counter() - t0
            out[k] = r
        pts = sum(len(self.series[k]) for k in ids)
        self.kernel[model] = (t, len(ids), pts)
        return out

    def _check_df(self, model: str, kind: str, got: pd.DataFrame):
        want_rows = self.n_series * H
        self.dropped[f"{kind}:{model}"] = \
            self.n_series - got["id"].nunique()
        if len(got) != want_rows:
            return f"{len(got)} rows, want {want_rows}"
        ref = self._replay(model, self.sample)
        for k, r in ref.items():
            g = got[got["id"] == k].sort_values("forecast_step")
            cols = ("yhat", "yhat_lower", "yhat_upper")
            vals = (r.point, r.lower, r.upper)
            if kind == "fold":
                # the fold path's declared contract with the model library
                # is the 4-decimal pin its oracles use (Welford vs np.std
                # and JVM vs C pow may differ in the last ulp)
                ok = all(checks.bits_equal(checks.pin(g[c], 4),
                                           checks.pin(v, 4))
                         for c, v in zip(cols, vals))
            else:
                ok = all(checks.bits_equal(g[c].to_numpy(), v)
                         for c, v in zip(cols, vals))
            if not ok or (g["model_name"] != r.model_name).any():
                return f"series {k} differs from models.forecast"
            future = pd.date_range(self.last_ds[k], periods=H + 1,
                                   freq="D")[1:]
            if not (pd.to_datetime(g["ds"]).to_numpy()
                    == future.to_numpy()).all():
                return f"series {k}: wrong forecast dates"
        if model == SQL_MODEL:
            self.df_for_sql = got[got["id"].isin(self.sql_ids)]
        return None

    def _check_sql_fc(self, got: pd.DataFrame):
        self.dropped[f"sql:{SQL_MODEL}"] = self.n_sql - got["id"].nunique()
        if self.df_for_sql is None:
            return "no DataFrame-surface result to compare against"
        return checks.compare(got, self.df_for_sql)

    def _check_sql_stats(self, got: pd.DataFrame):
        if sorted(got["id"]) != self.sql_ids:
            return "ts_stats_by ids differ from the subset"
        lens = got.set_index("id")["length"]
        if any(int(lens[k]) != len(self.series[k]) for k in self.sql_ids):
            return "ts_stats_by length differs from the series length"
        return None

    def extra_metrics(self) -> dict:
        out = {}
        for m, (t, n, pts) in self.kernel.items():
            out[f"models.kernel_ms_per_series.{m}"] = 1000.0 * t / max(n, 1)
        out["forecast.series_dropped"] = float(sum(self.dropped.values()))
        return out

    def kernel_ms_total(self) -> float:
        """Estimated kernel time of one pass's Python-path models: the
        sampled per-point kernel time scaled to the panel's points."""
        total_pts = sum(len(v) for v in self.series.values())
        ms = 0.0
        for m in PY_MODELS:
            t, _, pts = self.kernel.get(m, (0.0, 0, 1))
            ms += 1000.0 * t / max(pts, 1) * total_pts
        return ms


# --------------------------------------------------------------------------
# mix_sf0.1: the headline keys of __spark_entry__
# --------------------------------------------------------------------------

class HeadlineMix:
    """Runs the headline ``queries()`` keys, one pass in bench.py's order,
    over seed-generated TPC-H-ish tables, and checks each result
    against its DuckDB ``oracle_sql()`` over the same files (MinHash: the
    replay named at ``MINHASH_KEY``)."""
    name = "mix_sf0.1"
    uses_sql = False

    def __init__(self, seed: int, work: str, sf: float):
        import __spark_entry__ as entry
        self.keys, self.seed, self.sf = MIX_KEYS, seed, sf
        self.dir = os.path.join(work, "tables")
        self.tiny_dir = os.path.join(work, "tables_tiny")
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.con = None
        self.dropped: dict[str, int] = {}

    def prepare(self) -> dict:
        tabs = gen.tpch_tables(self.sf, self.seed)
        nbytes = gen.write_tables(tabs, self.dir)
        gen.write_tables(gen.tpch_tables(0.001, self.seed + 1), self.tiny_dir)
        return {"sf": self.sf, "bytes": nbytes,
                "rows": {t: tabs[t].num_rows for t in TABLES},
                "keys": len(self.keys)}

    def _op(self, spark, key: str) -> Op:
        fn = self.queries[key]
        return Op(key, "key", lambda: fn(spark, self.dir),
                  lambda got: self._check(key, got))

    def warmup_ops(self, spark) -> list[Op]:
        # The first action in a fresh JVM costs ~8 s whichever key it is;
        # a key outside the pass pays it on tiny tables. Each key's own
        # first-run cost (its plan's codegen) stays in the pass.
        fn = self.queries["metric_mse"]
        return [Op("metric_mse", "warmup", lambda: fn(spark, self.tiny_dir),
                   lambda got: None)]

    def ops(self, spark) -> list[Op]:
        # bench.py's order, the same in every run: the first keys of a pass
        # also pay the JVM's remaining shared warm-up, and a seed-permuted
        # order moved that cost between keys and made the per-key
        # percentiles spread by a quarter across seeds
        return [self._op(spark, k) for k in self.keys]

    def _duck(self):
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 4")
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.dir}/{t}.parquet')")
        return self.con

    def _check(self, key: str, got: pd.DataFrame):
        con = self._duck()
        if key == MINHASH_KEY:
            docs = con.execute("SELECT doc_id, text FROM documents "
                               "WHERE doc_id < 100").df()
            return checks.check_minhash_pairs(got, docs, 32, 0.4)
        want = con.execute(self.oracles[key]).df()
        return checks.compare(got, want)

    def extra_metrics(self) -> dict:
        return {}

    def kernel_ms_total(self) -> float:
        return 0.0


def make(name: str, seed: int, work: str, spans, tiny: bool = False):
    """Workload by name. ``tiny`` shrinks the inputs for the smoke test."""
    if name == "forecast_m4d":
        return ForecastM4D(seed, work, spans,
                           *((24, 6, 2, 0) if tiny else ()))
    if name == "mix_sf0.1":
        return HeadlineMix(seed, work, 0.001 if tiny else 0.01)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("forecast_m4d", "mix_sf0.1")
