"""Keyword search over document tables: BM25 scoring and top-k retrieval.

Beyond-parity surface (BASELINE.json north star): the lexical-retrieval
counterpart of ``similarity.py``'s embedding ANN — a training-data pipeline
needs both (keyword audits of a 100 TB corpus: "find the documents about X",
contamination spot-checks, targeted sampling).

Scale design: the query has a handful of terms, so per-term term frequencies
are computed as narrow JVM array expressions fused into the scan — no
explode, no inverted-index shuffle. Corpus statistics (N, avg document
length, per-term document frequencies) reduce to ONE single-row aggregate
that is broadcast back, and top-k is a ``TakeOrderedAndProject`` (per
partition heap + driver merge), not a full sort shuffle. Net: one pass over
the corpus, zero wide shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import dbl, q, sql_str
from .pipeline import _words


def bm25_score(df: DataFrame, id_col: str, text_col: str,
               query_terms: list[str], k1: float = 1.2,
               b: float = 0.75) -> DataFrame:
    """BM25 score of every document against ``query_terms`` (Robertson &
    Zaragoza 2009; the Lucene ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf,
    which is non-negative). Output: (<id>, score) for ALL documents —
    compose with a filter or use :func:`bm25_topk` for retrieval.

    Tokenization is the pipeline family's lowercased whitespace split
    (``pipeline._words``), so BM25 agrees with ``token_count`` /
    ``gopher_stats`` about what a word is.
    """
    terms = [str(t).lower() for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # token array projected ONCE (r13 CSE fix): the per-term tf filters
    # below each referenced the split expression, re-running it once per
    # TERM per row
    i_ = q(id_col)
    base = (df.selectExpr(i_, f"{_words(q(text_col))} AS __ws")
              .selectExpr(i_, "size(__ws) AS __dl", *[
                  f"size(filter(__ws, x -> x = {sql_str(t)})) AS __tf{i}"
                  for i, t in enumerate(terms)]))
    stats = base.agg(
        F.expr("count(1) AS __n"), F.expr("sum(__dl) AS __sumdl"),
        *[F.expr(f"sum(CAST(__tf{i} > 0 AS BIGINT)) AS __df{i}")
          for i in range(len(terms))])
    scored = base.join(F.broadcast(stats))
    n = "CAST(__n AS DOUBLE)"
    avgdl = f"(CAST(__sumdl AS DOUBLE) / {n})"
    # all-empty corpus edge (r12 property-suite find): avgdl == 0 made
    # the length norm divide by zero under ANSI mode. Every dl is 0 too,
    # so the norm's limit is 0 — and every tf is 0, so the score is 0
    # regardless; the guard is value-identical whenever any doc has words.
    norm = (f"CASE WHEN __sumdl > 0 THEN CAST(__dl AS DOUBLE) / {avgdl} "
            "ELSE 0.0D END")
    # the length factor k1 * (1 - b + b * norm), in the operand order the
    # constants fold to: (norm * b + (1 - b)) * k1
    length = f"((({norm}) * {dbl(b)} + {dbl(1.0 - b)}) * {dbl(k1)})"
    score = "0.0D"
    for i in range(len(terms)):
        tf = f"CAST(__tf{i} AS DOUBLE)"
        dfreq = f"CAST(__df{i} AS DOUBLE)"
        idf = f"ln(1.0D + ({n} - {dfreq} + 0.5D) / ({dfreq} + 0.5D))"
        # tf == 0 always means zero contribution, but the denominator
        # tf + k1*(1-b+b*norm) can ALSO be 0 then (b=1 with a
        # zero-length doc, or the all-empty corpus above) — 0/0 is NULL
        # under default Spark and an error under ANSI. Guarding the
        # whole term on tf > 0 covers every zero-denominator case at
        # once: tf > 0 implies the denominator >= tf > 0.
        score += (f" + CASE WHEN {tf} > 0 THEN {idf} * ({tf} * "
                  f"{dbl(k1 + 1.0)} / ({tf} + {length})) ELSE 0.0D END")
    return scored.selectExpr(i_, f"{score} AS score")


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 10, k1: float = 1.2,
              b: float = 0.75) -> DataFrame:
    """Top-k documents by BM25 — ties break to the lower id. The orderBy +
    limit compiles to ``TakeOrderedAndProject`` (no full-sort shuffle)."""
    return (bm25_score(df, id_col, text_col, query_terms, k1, b)
            .orderBy(F.desc("score"), id_col)
            .limit(int(k)))


def top_terms(df: DataFrame, group_col: str, text_col: str,
              k: int = 10) -> DataFrame:
    """Heavy-hitter terms per group (corpus vocabulary audit: "what are the
    top words per source / language?"). Output:
    (<group>, term, term_count, rank), rank 1..k per group, ties to the
    lexicographically smaller term.

    Scale shape: one explode + one count-only groupBy on (group, term) —
    high-cardinality keys, map-side combine — then a per-group top-k window
    over the (group, term)-aggregated counts (rows = vocabulary size per
    group, not corpus size)."""
    from pyspark.sql import Window
    cnt = (df.select(F.col(group_col),
                     F.explode(F.expr(_words(q(text_col)))).alias("term"))
             .groupBy(group_col, "term")
             .agg(F.count(F.lit(1)).alias("term_count")))
    w = Window.partitionBy(group_col).orderBy(F.col("term_count").desc(),
                                              F.col("term"))
    return (cnt.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= int(k)))


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 5) -> DataFrame:
    """Per-document keyword extraction: the ``k`` highest tf-idf terms of
    each document. tf = in-document term count; idf = the smoothed
    ``ln((1 + N) / (1 + df)) + 1`` (sklearn's convention, always positive).
    Output: (<id>, term, tf, tfidf, rank), ties to the smaller term.

    Scale shape: one explode + (id, term) count, one (term) document-
    frequency count (count-only shuffles, never text payloads), a broadcast
    single-row N, and a per-document top-k window."""
    from pyspark.sql import Window
    toks = df.select(F.col(id_col),
                     F.explode(F.expr(_words(q(text_col)))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (tf.groupBy("term")
               .agg(F.count(F.lit(1)).alias("__df")))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    idf = (F.log((F.lit(1.0) + F.col("__n").cast("double"))
                 / (F.lit(1.0) + F.col("__df").cast("double")))
           + F.lit(1.0))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("term"))
    return (tf.join(dfreq, "term").join(F.broadcast(n))
              .withColumn("tfidf", F.col("tf").cast("double") * idf)
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= int(k))
              .select(id_col, "term", "tf", "tfidf", "rank"))
