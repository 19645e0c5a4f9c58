"""r14 experiment (r13 judge directive #9): gopher_stats gram frame via ONE
posexplode of words + lead() gram reconstruction instead of 5 per-n corpus
explodes. Value-compare + interleaved timing vs the shipped shape."""
import os, sys, time
from pyspark.sql import Window as W
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from anofox_forecast_spark.session import get_spark
from anofox_forecast_spark.operators import pipeline as PL
from anofox_forecast_spark.operators.pipeline import (_words, TOP_NS, DUP_NS,
                                                      GOPHER_THRESHOLDS)

def gram_frame_leads(base, id_col):
    """(id, n_chars, n, gram) — lead()-reconstructed replacement for the
    per-n union; values identical (concat_ws over the same word runs)."""
    max_n = max(*TOP_NS, *DUP_NS)
    wpos = base.select(id_col, "n_chars",
                       F.posexplode(F.col("__ws")).alias("__pos", "__w0"))
    win = W.partitionBy(id_col).orderBy("__pos")
    cols = [F.lead("__w0", i).over(win).alias(f"__w{i}")
            for i in range(1, max_n)]
    led = wpos.select(id_col, "n_chars", F.col("__w0"), *cols)
    structs = []
    for n in (*TOP_NS, *DUP_NS):
        gram = F.concat_ws(" ", *[F.col(f"__w{j}") for j in range(n)])
        structs.append(F.when(F.col(f"__w{n-1}").isNotNull(),
                              F.struct(F.lit(n).alias("n"),
                                       gram.alias("gram"))))
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return (led.select(id_col, "n_chars", F.explode(arr).alias("__t"))
               .select(id_col, "n_chars", F.col("__t.n").alias("n"),
                       F.col("__t.gram").alias("gram")))

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    mode = sys.argv[2] if len(sys.argv) > 2 else "check"
    spark = get_spark(app_name="gopher2p", shuffle_partitions=8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pre = docs.select(F.col("doc_id"), F.expr(_words("text")).alias("__ws"),
                      F.length("text").alias("n_chars"))
    # current shape's gram frame
    g_old = None
    for n in (*TOP_NS, *DUP_NS):
        g = (pre.select("doc_id", "n_chars",
                        F.explode(F.expr(PL._word_ngrams("__ws", n))).alias("gram"))
                .withColumn("n", F.lit(n)))
        g_old = g if g_old is None else g_old.unionByName(g)
    g_new = gram_frame_leads(pre, "doc_id")
    if mode == "check":
        a = g_old.select("doc_id", "n", "gram", "n_chars")
        b = g_new.select("doc_id", "n", "gram", "n_chars")
        d1 = a.exceptAll(b).count(); d2 = b.exceptAll(a).count()
        print("exceptAll old-new:", d1, "new-old:", d2)
        assert d1 == 0 and d2 == 0
        print("IDENTICAL")
    else:
        # time the downstream count aggregate on each (noop the heavy part)
        for name, gf in (("old", g_old), ("new", g_new)):
            t0 = time.time()
            (gf.groupBy("doc_id", "n", "gram", "n_chars")
               .agg(F.count(F.lit(1)).alias("cnt"))
               .write.format("noop").mode("overwrite").save())
            print(f"{name}: {time.time()-t0:.3f}s")
    spark.stop()

if __name__ == "__main__":
    main()
