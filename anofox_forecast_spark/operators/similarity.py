"""Similarity search over embedding columns (array<float>).

Beyond-parity surface (BASELINE.json north star):

- ``cosine_topk`` — brute-force exact top-k against a query vector. The dot
  product is a JVM-side ``zip_with``/``aggregate`` higher-order expression
  (no Python), so the scan + score is one narrow stage; top-k is a
  ``TakeOrderedAndProject`` (no full sort shuffle).
- ``cosine_topk_ivf`` — IVF-style scale path: k-means-lite centroids learned
  from a bounded sample on the driver, each row assigned to its nearest
  centroid at write/score time, query probes only the ``n_probe`` nearest
  cells. At 100 TB the probe prunes the scan by centroid partition.
- ``knn_join_lsh`` — approximate k-NN join between two embedding tables via
  random-hyperplane bucket join (same signature machinery as
  ``dedup.embedding_cosine_pairs``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import dbl, q


def _unit(vec: str) -> str:
    """SQL text: the unit-normalized double array of ``vec``."""
    # the norm rides in as a zip_with argument instead of being referenced
    # inside the lambda (r13 CSE fix): an expression inside a higher-order-
    # function lambda is re-evaluated per array ELEMENT, so the old
    # transform(vec, x -> x / norm) recomputed the O(d) norm fold d times —
    # an O(d^2) normalize per row. array_repeat evaluates the norm once;
    # the division is value-identical.
    norm = (f"sqrt(aggregate({vec}, 0.0D, "
            "(x, y) -> x + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))")
    return (f"zip_with({vec}, array_repeat({norm}, size({vec})), "
            "(x, y) -> CAST(x AS DOUBLE) / y)")


def dot(a: str, b: str) -> str:
    """SQL text: the sequential dot product of two arrays."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (x, y) -> x + y)"


def _vec(values) -> str:
    """SQL text: a double array literal (one literal per component)."""
    return "array(" + ", ".join(dbl(float(x)) for x in values) + ")"


def cosine_topk(df: DataFrame, id_col: str, vec_col: str,
                query: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``.
    Output: (<id>, cosine), descending."""
    qv = np.asarray(query, dtype=float)
    qn = float(np.linalg.norm(qv))
    if qn == 0:
        raise ValueError("query vector has zero norm")
    qv = qv / qn
    cos = dot(_unit(q(vec_col)), _vec(qv))
    return (df.selectExpr(q(id_col), f"{cos} AS cosine")
              .orderBy(F.desc("cosine"), id_col)
              .limit(int(k)))


def _kmeans_lite(X: np.ndarray, n_clusters: int, n_iter: int = 10,
                 seed: int = 42, init: str = "spread") -> np.ndarray:
    """Deterministic driver-side k-means on a bounded sample.

    ``init='spread'`` (default) seeds from evenly-spaced rows of the
    (id-ordered) sample — fully engine-portable, so the whole Lloyd's run
    can be replayed bit-for-bit by the DuckDB correctness oracle (the
    distance and mean summations below run in sequential dim/member order,
    matching the oracle's list folds). ``init='random'`` keeps the seeded
    PCG draw for callers that want sampling-style seeding."""
    n = len(X)
    k = min(n_clusters, n)
    if init == "random":
        rng = np.random.default_rng(seed)
        idx = list(rng.choice(n, size=k, replace=False))
    else:
        idx = [(j * n) // k for j in range(k)]
    C = X[idx].copy()
    for _ in range(n_iter):
        diff = X[:, None, :] - C[None, :, :]
        d = np.cumsum(diff * diff, axis=2)[:, :, -1]
        assign = d.argmin(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = np.cumsum(members, axis=0)[-1] / len(members)
    return C


def cosine_topk_ivf(df: DataFrame, id_col: str, vec_col: str,
                    query: list[float], k: int = 10, n_clusters: int = 16,
                    n_probe: int = 4, sample_limit: int = 10000) -> DataFrame:
    """IVF-bucketed approximate top-k: learn centroids from a deterministic
    sample, assign rows to nearest centroid (JVM-side argmin over centroid
    literals), score only rows in the ``n_probe`` cells nearest the query.
    One-shot form of ``ivf_build`` + ``ivf_search`` (same code path), minus
    the cell repartition — right when the index is not reused."""
    indexed, C = ivf_build(df, id_col, vec_col, n_clusters, sample_limit,
                           repartition_by_cell=False)
    return ivf_search(indexed, C, id_col, vec_col, query, k, n_probe)


def _assign_cells_arrow(df: DataFrame, vec_col: str, C: "np.ndarray"):
    """Vectorized nearest-centroid assignment: one Arrow-batched numpy
    matmul per batch instead of per-centroid fold expressions. The
    expression argmin costs rows x n_clusters x dim lambda evaluations —
    fine at k ≤ ~32, the dominant term once k grows with the corpus
    (SemDeDup's k ~ n/10k; measured x100 blow-up in the 10x soak). Ties
    break to the lowest cell (argmin), matching the expression path."""
    import pandas as pd
    from pyspark.sql import types as T

    Cn = np.ascontiguousarray(C, dtype=np.float64)
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField("__cell", T.IntegerType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.array([np.asarray(v, dtype=float)
                          for v in pdf[vec_col]], dtype=np.float64)
            if len(X):
                norms = np.linalg.norm(X, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                U = X / norms
                d2 = ((U * U).sum(1, keepdims=True)
                      - 2.0 * (U @ Cn.T)
                      + (Cn * Cn).sum(1)[None, :])
                pdf = pdf.assign(__cell=d2.argmin(axis=1).astype("int32"))
            else:
                pdf = pdf.assign(__cell=pd.Series([], dtype="int32"))
            yield pdf

    return df.mapInPandas(assign, out_schema)


def ivf_build(df: DataFrame, id_col: str, vec_col: str, n_clusters: int = 16,
              sample_limit: int = 10000,
              repartition_by_cell: bool = True,
              centroids: list[list[float]] | None = None,
              assign_mode: str = "expr"):
    """Build an IVF 'index': learn centroids from a deterministic bounded
    sample, assign every row to its nearest cell, and (optionally)
    repartition by cell so each cell is physically co-located.

    This is the 100 TB pattern ``cosine_topk_ivf`` folds into one call:
    build ONCE (one pass + one shuffle), write/persist the cell-assigned
    table partitioned by ``__cell``, then serve many probes that each scan
    only ``n_probe`` cells — on parquet, ``partitionBy('__cell')`` turns the
    probe filter into partition pruning, so a probe reads n_probe/n_clusters
    of the data. Returns ``(indexed_df, centroids)`` where ``centroids`` is
    a plain ``list[list[float]]`` (store it next to the table; pass it to
    ``ivf_search``).
    """
    if centroids is not None:
        # rebuild/extend an index from stored centroids (incremental
        # ingest: assign NEW rows to the existing cells without relearning)
        C = np.asarray(centroids, dtype=float)
    else:
        # Deterministic bounded sample: first ``sample_limit`` rows by id is
        # a TakeOrderedAndProject (no full sort shuffle) and, unlike a bare
        # ``limit``, does not depend on partition layout — same data, same
        # centroids, every run.
        sample = np.array(
            [r[0] for r in df.orderBy(id_col).limit(sample_limit)
                             .select(vec_col).collect()],
            dtype=float)
        # sequential-order norms (mirrors the oracle's list folds)
        norms = np.sqrt(np.cumsum(sample * sample, axis=1)[:, -1:])
        norms[norms == 0] = 1.0
        C = _kmeans_lite(sample / norms, n_clusters)
    if assign_mode == "arrow":
        # scale path: one numpy matmul per Arrow batch — O(rows) batches
        # instead of rows x n_clusters x dim JVM lambda folds. Use when
        # n_clusters grows with the corpus; the default expr path stays
        # bit-replayable by the DuckDB oracles.
        indexed = _assign_cells_arrow(df, vec_col, C)
    else:
        # unit vector projected ONCE (r13 CSE fix): the per-centroid
        # distance folds below each referenced the normalize expression,
        # re-running it once per CENTROID per row
        unit = F.col("__uv")
        # nearest-centroid assignment: array_min over (distance, cell)
        # structs — each distance subtree appears exactly once (a
        # chained-when argmin would copy the running best into every branch
        # and blow up the analyzer)
        dists = []
        for c in range(len(C)):
            cc = F.array(*[F.lit(float(x)) for x in C[c]])
            d2 = F.aggregate(
                F.zip_with(unit, cc, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v)
            dists.append(d2)
        best_cell = F.array_min(F.array(*[
            F.struct(dists[c].alias("d"), F.lit(c).alias("c"))
            for c in range(len(C))]))["c"]
        indexed = (df.withColumn("__uv", F.expr(_unit(q(vec_col))))
                     .withColumn("__cell", best_cell)
                     .drop("__uv"))
    if repartition_by_cell:
        indexed = indexed.repartition(len(C), "__cell")
    return indexed, [[float(x) for x in row] for row in C]


def ivf_search(indexed_df: DataFrame, centroids: list[list[float]],
               id_col: str, vec_col: str, query: list[float], k: int = 10,
               n_probe: int = 4) -> DataFrame:
    """Probe a pre-built IVF index: score only the rows in the ``n_probe``
    cells nearest the query. No centroid learning, no extra shuffle — the
    ``__cell`` filter prunes partitions written by ``ivf_build``."""
    C = np.asarray(centroids, dtype=float)
    qv = np.asarray(query, dtype=float)
    qv = qv / (float(np.sqrt(np.cumsum(qv * qv)[-1])) or 1.0)
    qd = (C - qv) * (C - qv)
    probe_cells = np.argsort(np.cumsum(qd, axis=1)[:, -1],
                             kind="stable")[:n_probe].tolist()
    cos = F.expr(dot(_unit(q(vec_col)), _vec(qv)))
    return (indexed_df.filter(F.col("__cell").isin(probe_cells))
            .select(F.col(id_col), cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(int(k)))


def pq_build(df: DataFrame, id_col: str, vec_col: str, m: int = 4,
             n_codes: int = 8, sample_limit: int = 10000,
             codebooks: list | None = None):
    """Product-quantization encode — the memory-compression leg of the
    100 TB ANN stack (IVF prunes WHICH rows to scan; PQ shrinks WHAT each
    scan reads: dim×4 bytes per vector down to ``m`` small codes).

    Unit-normalized vectors are split into ``m`` subvectors; each
    subvector gets an ``n_codes`` codebook learned by the same
    deterministic bounded-sample ``_kmeans_lite`` as ``ivf_build`` (so the
    whole build replays in the DuckDB oracle), and every row is encoded as
    the array of nearest-code indices — a JVM-side ``array_min`` over
    (distance, code) structs, no Python in the data path. Pass stored
    ``codebooks`` to encode new rows without relearning (incremental
    ingest, like ``ivf_build(centroids=...)``).

    Returns ``(encoded_df, codebooks)`` where ``encoded_df`` carries a
    ``__pq`` ``array<int>`` column and ``codebooks`` is a plain
    ``list[m][n_codes][dim/m]`` to store next to the table."""
    if codebooks is not None:
        books = [np.asarray(b, dtype=float) for b in codebooks]
        sub = books[0].shape[1]
    else:
        sample = np.array(
            [r[0] for r in df.orderBy(id_col).limit(sample_limit)
                             .select(vec_col).collect()],
            dtype=float)
        norms = np.sqrt(np.cumsum(sample * sample, axis=1)[:, -1:])
        norms[norms == 0] = 1.0
        S = sample / norms
        dim = S.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        books = [_kmeans_lite(S[:, j * sub:(j + 1) * sub], n_codes)
                 for j in range(m)]
    # unit vector projected ONCE (r13 CSE fix): the m x n_codes distance
    # folds each referenced the normalize expression per row otherwise
    unit = F.col("__uv")
    codes = []
    for j, B in enumerate(books):
        subv = F.slice(unit, j * sub + 1, sub)
        dists = []
        for c in range(len(B)):
            cc = F.array(*[F.lit(float(x)) for x in B[c]])
            dists.append(F.aggregate(
                F.zip_with(subv, cc, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v))
        codes.append(F.array_min(F.array(*[
            F.struct(dists[c].alias("d"), F.lit(c).alias("c"))
            for c in range(len(B))]))["c"])
    encoded = (df.withColumn("__uv", F.expr(_unit(q(vec_col))))
                 .withColumn("__pq", F.array(*codes))
                 .drop("__uv"))
    return encoded, [[list(map(float, row)) for row in B] for B in books]


def pq_search(encoded_df: DataFrame, codebooks: list, id_col: str,
              query: list[float], k: int = 10) -> DataFrame:
    """ADC probe over PQ codes: per-subvector distance tables from the
    query (m×n_codes floats, computed driver-side), approximate distance =
    sum of table lookups on the stored codes — a handful of ``element_at``
    per row, never touching the original vectors. On unit vectors
    ``cos ≈ 1 - d²/2``, which is what the ``cosine`` column reports."""
    books = [np.asarray(b, dtype=float) for b in codebooks]
    sub = books[0].shape[1]
    qv = np.asarray(query, dtype=float)
    qv = qv / (float(np.sqrt(np.cumsum(qv * qv)[-1])) or 1.0)
    d2 = F.lit(0.0)
    for j, B in enumerate(books):
        qj = qv[j * sub:(j + 1) * sub]
        diff = B - qj[None, :]
        table = np.cumsum(diff * diff, axis=1)[:, -1]
        tcol = F.array(*[F.lit(float(x)) for x in table])
        d2 = d2 + F.element_at(tcol, F.element_at("__pq", j + 1) + 1)
    return (encoded_df
            .select(F.col(id_col), (F.lit(1.0) - d2 / 2.0).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(int(k)))


def cosine_topk_pq(df: DataFrame, id_col: str, vec_col: str,
                   query: list[float], k: int = 10, m: int = 4,
                   n_codes: int = 8,
                   sample_limit: int = 10000) -> DataFrame:
    """One-shot PQ build + ADC probe (build-once/probe-many is the
    production path, exactly as with IVF)."""
    enc, books = pq_build(df, id_col, vec_col, m, n_codes, sample_limit)
    return pq_search(enc, books, id_col, query, k)


def ivf_pq_build(df: DataFrame, id_col: str, vec_col: str,
                 n_clusters: int = 16, m: int = 4, n_codes: int = 8,
                 sample_limit: int = 10000):
    """The production 100 TB index: IVF cells for probe pruning × PQ codes
    for memory compression — a pure composition of the two verified
    builders. Returns ``(indexed_df, centroids, codebooks)``; the frame
    carries both ``__cell`` (partition-prunable) and ``__pq`` (m-code
    sketch)."""
    indexed, C = ivf_build(df, id_col, vec_col, n_clusters, sample_limit,
                           repartition_by_cell=False)
    encoded, books = pq_build(indexed, id_col, vec_col, m, n_codes,
                              sample_limit)
    return encoded, C, books


def ivf_pq_search(indexed_df: DataFrame, centroids: list, codebooks: list,
                  id_col: str, query: list[float], k: int = 10,
                  n_probe: int = 4) -> DataFrame:
    """Probe ``n_probe`` IVF cells, score survivors by PQ ADC lookups —
    a probe reads n_probe/n_clusters of the data AND touches only the
    m-byte codes, never the raw vectors."""
    C = np.asarray(centroids, dtype=float)
    qv = np.asarray(query, dtype=float)
    qn = qv / (float(np.sqrt(np.cumsum(qv * qv)[-1])) or 1.0)
    qd = (C - qn) * (C - qn)
    probe_cells = np.argsort(np.cumsum(qd, axis=1)[:, -1],
                             kind="stable")[:n_probe].tolist()
    return pq_search(indexed_df.filter(F.col("__cell").isin(probe_cells)),
                     codebooks, id_col, query, k)


def semdedup_pairs(df: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.95, n_clusters: int = 16,
                   sample_limit: int = 10000,
                   centroids: list[list[float]] | None = None,
                   assign_mode: str = "expr") -> DataFrame:
    """Semantic near-duplicate PAIRS by cluster-then-compare (SemDeDup,
    Abbas et al. 2023): embeddings are assigned to k-means cells
    (:func:`ivf_build` — learned from a deterministic bounded sample, or
    stored ``centroids`` for incremental ingest), and cosine similarity is
    computed only WITHIN a cell. Output: (id_a, id_b, cell, cosine) for
    pairs with cosine ≥ ``threshold``.

    Scale shape: the comparison join is keyed on ``__cell``, so the
    worst case is Σ|cell|² — bounded by choosing ``n_clusters`` so cells
    fit (the SemDeDup paper's k ≈ n/10k), never the corpus-wide all-pairs
    product. Semantic dups that land in different cells are missed — the
    paper's documented recall tradeoff.
    """
    indexed, _ = ivf_build(df, id_col, vec_col, n_clusters, sample_limit,
                           repartition_by_cell=False, centroids=centroids,
                           assign_mode=assign_mode)
    u = indexed.select(F.col(id_col).alias("__id"), "__cell",
                       F.expr(_unit(q(vec_col))).alias("__v"))
    a = u.select(F.col("__id").alias("id_a"), "__cell",
                 F.col("__v").alias("__va"))
    b = u.select(F.col("__id").alias("id_b"), "__cell",
                 F.col("__v").alias("__vb"))
    cos = F.expr(dot("__va", "__vb"))
    return (a.join(b, "__cell").filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine", cos)
             .filter(F.col("cosine") >= float(threshold))
             .select("id_a", "id_b", F.col("__cell").alias("cell"), "cosine"))


def semdedup(df: DataFrame, id_col: str, vec_col: str,
             threshold: float = 0.95, n_clusters: int = 16,
             sample_limit: int = 10000,
             centroids: list[list[float]] | None = None,
             assign_mode: str = "expr") -> DataFrame:
    """Full SemDeDup verdict per row: cluster-then-compare pairs resolved
    into connected components (``dedup.dup_clusters`` — transitive closure,
    labels-only shuffles), keep = min-id canonical per component (rows in
    no pair are their own canonical). Output: input ``id_col`` +
    ``semdedup_keep`` boolean."""
    from .dedup import dup_clusters
    pairs = semdedup_pairs(df, id_col, vec_col, threshold, n_clusters,
                           sample_limit, centroids, assign_mode)
    drops = (dup_clusters(pairs).filter(~F.col("is_canonical"))
             .select(F.col("id").alias(id_col),
                     F.lit(False).alias("semdedup_keep")))
    return (df.select(id_col).join(drops, on=id_col, how="left")
              .fillna({"semdedup_keep": True}))


def knn_join_lsh(left: DataFrame, right: DataFrame, left_id: str, right_id: str,
                 vec_col: str, k: int = 5, n_planes: int = 10,
                 seed: int = 42, n_tables: int = 1) -> DataFrame:
    """Approximate k-NN join: for each left row, the top-k right rows by
    cosine among candidates sharing a random-hyperplane signature in ANY of
    ``n_tables`` independent tables (OR-amplification, the same bands
    pattern as MinHash-LSH: P(miss) = (1 - p^n_planes)^n_tables, so more
    tables buy recall at linear candidate cost — a query that sits on one
    table's hyperplane is rescued by the others). ``n_tables=1`` is the
    single-signature fast path. Output: (<left_id>, <right_id>, cosine,
    rank). Scale shape: explode factor n_tables per side, shuffle keyed on
    (table, signature) — never an all-pairs product."""
    from pyspark.sql import Window
    d = int(left.select(F.size(F.col(vec_col)).alias("d")).first()["d"])
    rng = np.random.default_rng(seed)
    # one sequential draw: table 0 gets the exact planes the single-table
    # form always used (n_tables=1 is bit-identical to the old behavior)
    planes = rng.standard_normal((int(n_tables) * n_planes, d))

    def sig_rows(df: DataFrame, id_col: str, out_id: str, out_vec: str):
        # unit vector projected ONCE (r13 CSE fix): each of the
        # n_tables x n_planes dot folds referenced the normalize
        # expression per row otherwise
        pre = df.select(F.col(id_col).alias(out_id),
                        F.expr(_unit(q(vec_col))).alias(out_vec))
        tsigs = []
        for t in range(int(n_tables)):
            sig = F.lit(0).cast("long")
            for p in range(n_planes):
                row = planes[t * n_planes + p]
                s = F.expr(dot(q(out_vec), _vec(row)))
                sig = sig.bitwiseOR(
                    F.when(s > 0, F.lit(2 ** p).cast("long"))
                     .otherwise(F.lit(0).cast("long")))
            tsigs.append(F.struct(F.lit(t).alias("t"), sig.alias("s")))
        return (pre.select(out_id, out_vec,
                           F.explode(F.array(*tsigs)).alias("__ts"))
                   .select(out_id, out_vec, F.col("__ts.t").alias("__t"),
                           F.col("__ts.s").alias("__sig")))

    lt = sig_rows(left, left_id, "__lid", "__lv")
    rt = sig_rows(right, right_id, "__rid", "__rv")
    cos = F.expr(dot("__lv", "__rv"))
    w = Window.partitionBy("__lid").orderBy(F.col("cosine").desc(),
                                            F.col("__rid"))
    cand = lt.join(rt, ["__t", "__sig"])
    if int(n_tables) > 1:
        # the same pair can collide in several tables — dedup before ranking
        cand = cand.dropDuplicates(["__lid", "__rid"])
    return (cand
            .withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select(F.col("__lid").alias(left_id),
                    F.col("__rid").alias(right_id), "cosine", "rank"))
