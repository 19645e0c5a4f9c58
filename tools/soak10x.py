"""10x scale soak (VERDICT r5 #7): run the bench suite + dedup_minhash_lsh
+ similarity_topk_ivf at sf0.1 and at the 10x copy (/tmp/scale10x-sf1.0)
in ONE session with identical cluster-posture config (AQE on, shuffle 32),
report per-query wall times and the 10x/1x ratio."""
import json, time, sys
sys.path.insert(0, "/root/repo")

SCALES = {"sf0.1": "/root/testdata/sf0.1", "10x": "/tmp/scale10x-sf1.0"}
QUERIES = [
    "forecast_naive", "forecast_seasonal_naive", "forecast_sma",
    "forecast_rwd", "forecast_swa", "forecast_ses", "forecast_theta",
    "forecast_croston", "metric_mae", "metric_smape", "prep_fill_gaps",
    "hier_aggregate", "cv_folds", "stats_sql", "conformal_by",
    "text_quality", "dedup_exact_groups", "dedup_minhash_lsh",
    "similarity_topk", "similarity_topk_ivf",
]

from anofox_forecast_spark.session import get_spark
import __spark_entry__ as entry_mod

spark = get_spark(app_name="anofox-soak10x", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
qs = entry_mod.queries()

# JIT/worker-pool warm-up at the smallest SF
for name in QUERIES:
    try:
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    except Exception:
        pass

out = {}
for label, d in SCALES.items():
    t = {}
    for name in QUERIES:
        best = -1.0
        try:
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                el = round(time.time() - t0, 2)
                best = el if best < 0 else min(best, el)
        except Exception as e:
            print(f"{label} {name} FAILED: {e}", file=sys.stderr)
        t[name] = best
        print(f"{label} {name}: {best}", flush=True)
    out[label] = t

ratios = {k: (round(out["10x"][k] / out["sf0.1"][k], 1)
              if out["sf0.1"].get(k, 0) > 0 and out["10x"].get(k, 0) > 0 else None)
          for k in QUERIES}
print(json.dumps({"sf0.1": out["sf0.1"], "10x": out["10x"], "ratio": ratios}))
