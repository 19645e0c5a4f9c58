"""Deduplication operators for large-scale training-data pipelines.

Beyond-parity surface (BASELINE.json north star). Five families:

- **exact** — hash-groupBy on a normalized fingerprint. One shuffle on the
  md5 key; survivor = min id per group.
- **n-gram Jaccard** — character-shingle sets, shingle-inverted-index join,
  Jaccard from co-occurrence counts. All Spark SQL.
- **MinHash + LSH** — k permutation-free min-hashes (xxhash64 with per-hash
  salt), banded into LSH buckets; candidate pairs verified with true Jaccard.
  The classic shingle→minhash→band→bucket-join pipeline; shuffles only on
  band keys (small) and candidate pairs.
- **SimHash** — 64-bit weighted-bit-vote fingerprint; candidates share one of
  four 16-bit chunks (guarantees recall for hamming distance ≤ 3 by pigeonhole
  over 4 chunks); verified with bit_count(xor) ≤ max_hamming.
- **embedding cosine** — near-dup via normalized-vector dot product; LSH
  random-hyperplane bucketing as the scale path (see similarity.py).

At 100 TB the bucket-join pattern is the only viable shape: no operator here
ever materializes the full pairwise cross product; candidates are generated
by co-grouping on short keys and verified pairwise within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sqltext import dbl, q
from .text import normalize_text, normalize_text_sql


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint.
    Output: input columns + ``fingerprint`` + ``dup_count``."""
    from pyspark.sql import Window
    fp = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy("fingerprint")
    wo = Window.partitionBy("fingerprint").orderBy(id_col)
    return (df.withColumn("fingerprint", fp)
              .withColumn("dup_count", F.count(F.lit(1)).over(w))
              .withColumn("__rn", F.row_number().over(wo))
              .filter(F.col("__rn") == 1).drop("__rn"))


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate-group report: (fingerprint, dup_count, keep_id) for groups
    with more than one member."""
    fp = F.expr(f"md5({normalize_text_sql(q(text_col))})")
    return (df.withColumn("fingerprint", fp)
              .groupBy("fingerprint")
              .agg(F.expr("count(1) AS dup_count"),
                   F.expr(f"min({q(id_col)}) AS keep_id"))
              .filter("dup_count > 1"))


def exact_dedup_keep_best(df: DataFrame, id_col: str, text_col: str,
                          score_col: str) -> DataFrame:
    """Quality-aware exact-dedup survivor choice: one row per
    normalized-text fingerprint, keeping the member with the HIGHEST
    ``score_col`` (ties -> smallest id) — the policy a corpus build
    actually wants ("keep the best copy", e.g. the longest or the
    highest quality-score capture of a page), vs :func:`dedup_exact`'s
    positional keep-min-id. Output: ``(fingerprint, keep_id, keep_score,
    dup_count)`` for EVERY group (singletons included — filter
    ``dup_count > 1`` for the duplicates-only report).

    Scale shape: same as :func:`exact_dup_groups` — one count/argmin
    groupBy on the md5 fingerprint (map-side combined; the argmin is one
    extra struct column on the same aggregate), no windows, no second
    pass over the corpus. The argmax is expressed as min over
    ``(-score, id)`` structs, so it is deterministic on any partitioning
    and replayable engine-side (double negation is exact). A NULL score
    ranks WORST (coalesced to +inf in the negated key — without that,
    Spark's null-first struct order would make NULL-scored rows win
    every group); a group whose every member has NULL score reports
    ``keep_score`` NULL.
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    neg = F.coalesce((-F.col(score_col).cast("double")),
                     F.lit(float("inf")))
    return (df.withColumn("fingerprint", fp)
              .groupBy("fingerprint")
              .agg(F.count(F.lit(1)).alias("dup_count"),
                   F.min(F.struct(
                       neg.alias("ns"),
                       F.col(id_col).alias("i"))).alias("__b"))
              .select("fingerprint",
                      F.col("__b")["i"].alias("keep_id"),
                      F.when(F.col("__b")["ns"] != float("inf"),
                             -F.col("__b")["ns"]).alias("keep_score"),
                      F.col("dup_count").cast("bigint").alias("dup_count")))


# ---------------------------------------------------------------------------
# Character shingles
# ---------------------------------------------------------------------------

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the normalized text (array<string>)."""
    norm = normalize_text(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(n))))


def _shingle_df(df: DataFrame, id_col: str, text_col: str, n: int):
    # normalized text projected BEFORE the shingle transform (r13 CSE
    # fix): an expression referenced inside a higher-order-function
    # lambda is re-evaluated per array element, so the regex normalize
    # ran once per shingle POSITION instead of once per document
    norm = df.selectExpr(f"{q(id_col)} AS __id",
                         f"{normalize_text_sql(q(text_col))} AS __norm")
    return norm.selectExpr(
        "__id",
        f"array_distinct(transform(sequence(1, greatest(length(__norm) - "
        f"{n - 1}, 1)), x -> substr(__norm, x, {n}))) AS __sh")


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                        threshold: float = 0.8,
                        max_doc_freq: int | None = 10_000) -> DataFrame:
    """All pairs (id_a < id_b) with character-n-gram Jaccard ≥ threshold.
    Output: (id_a, id_b, jaccard).

    Inverted-index join on shingles: |A∩B| from co-occurrence counts,
    |A∪B| = |A|+|B|−|A∩B|. Shuffles on shingle then on the pair key —
    never a cross product.

    ``max_doc_freq`` caps posting-list length: a shingle present in more than
    that many documents is dropped from the index BEFORE the self-join (a
    posting list of length L expands to ~L²/2 candidate pairs, so one
    corpus-wide shingle would make the join quadratic in the corpus). Union
    sizes stay exact, so capped pairs can only *under*-estimate Jaccard —
    bounded recall loss, the standard stop-shingle tradeoff. Pass ``None``
    to disable (exact, small data only).
    """
    sh = _shingle_df(df, id_col, text_col, n)
    sizes = sh.select(F.col("__id"), F.size("__sh").alias("__sz"))
    inv = sh.select("__id", F.explode("__sh").alias("__s"))
    if max_doc_freq is not None:
        keep = (inv.groupBy("__s")
                   .agg(F.count(F.lit(1)).alias("__df"))
                   .filter(F.col("__df") <= int(max_doc_freq))
                   .select("__s"))
        # same join key as the self-join below → Catalyst reuses the
        # shuffle-on-__s partitioning; no extra wide stage
        inv = inv.join(keep, "__s")
    a = inv.select(F.col("__id").alias("id_a"), "__s")
    b = inv.select(F.col("__id").alias("id_b"), "__s")
    pairs = (a.join(b, "__s").filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("__common")))
    sz_a = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sza"))
    sz_b = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__szb"))
    out = (pairs.join(sz_a, "id_a").join(sz_b, "id_b")
           .withColumn("jaccard",
                       F.col("__common").cast("double")
                       / (F.col("__sza") + F.col("__szb") - F.col("__common")))
           .filter(F.col("jaccard") >= float(threshold))
           .select("id_a", "id_b", "jaccard"))
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(sh: Column, num_hashes: int = 64,
                      hash_fn: str = "xxhash64") -> Column:
    """Per-salt minimum hash over the shingle set.

    ``hash_fn='xxhash64'`` (default, fast path): array<bigint> of min
    xxhash64(shingle, salt) — JVM-native, the 100 TB path.
    ``hash_fn='md5'`` (portable path): array<string> of the lexicographic
    minimum md5 hex of ``shingle || ':' || salt``. md5 hex is identical in
    every engine, so results are reproducible bit-for-bit across Spark,
    DuckDB, retries, and cluster layouts — the mode the correctness oracle
    verifies end-to-end.
    """
    # NOTE: the per-salt lambda must be UNARY. PySpark inspects the lambda's
    # arity, and a second parameter (even with a default, e.g. the classic
    # `lambda s, i=i:` closure trick) makes transform() call it as
    # (element, array_index) — silently replacing the salt with the shingle's
    # position. A closure factory keeps the salt captured and the arity 1.
    def _salted(i: int):
        if hash_fn == "md5":
            return lambda s: F.md5(F.concat(s, F.lit(f":{i}")))
        return lambda s: F.xxhash64(s, F.lit(i))

    sigs = [F.array_min(F.transform(sh, _salted(i)))
            for i in range(num_hashes)]
    return F.array(*sigs)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
                      threshold: float = 0.7,
                      hash_fn: str = "xxhash64",
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs via MinHash-LSH: (id_a, id_b, est_jaccard, jaccard).

    ``est_jaccard`` = fraction of equal signature components;
    ``jaccard`` = exact verification on the shingle sets of candidates only.
    ``hash_fn='md5'`` makes signatures and band keys engine-portable and
    retry-deterministic (see :func:`minhash_signature`).

    ``max_bucket_size`` caps LSH bucket width before the self-join — the
    near-dup counterpart of ``ngram_jaccard_pairs``' ``max_doc_freq``. A
    bucket of L identical-signature docs expands to ~L²/2 candidates, so a
    corpus with heavy EXACT duplication (the realistic crawl shape —
    measured in the 10x soak: ×100 candidate blow-up from 10 exact copies
    per doc) turns the join quadratic. Capped pairs can still collide in
    another band (OR-amplification rescues partial overlaps); the right
    production order is exact dedup FIRST, then LSH on the survivors —
    the cap is the safety valve against the hot buckets that remain.
    Default ``None`` (exact, matches the driver-key oracles).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sh = _shingle_df(df, id_col, text_col, shingle_n)
    # r14 (§4/§7): the per-salt `array_min(transform(...))` signature is
    # INTERPRETED — num_hashes × |shingles| lambda evaluations per doc
    # with no codegen. The same minima computed as explode + num_hashes
    # MIN aggregates run inside WholeStageCodegen with map-side partial
    # aggregation (wire: one num_hashes-wide row per doc). Values are
    # identical: min over the same distinct-shingle set, same salted hash
    # expression; explode_outer keeps empty-shingle docs as an all-NULL
    # signature exactly like array_min over an empty array. (The scalar
    # `minhash_signature` Column helper keeps the HOF form for arbitrary
    # array expressions.)
    def _salted(i: int) -> str:
        if hash_fn == "md5":
            return f"md5(concat(__s, ':{i}'))"
        return f"xxhash64(__s, {i})"

    # one aggregate expression builds the signature array: the Project
    # over the num_hashes MIN aggregates collapses into the Aggregate's
    # result expressions, the same plan as one alias per minimum
    mins = ", ".join(f"min({_salted(i)})" for i in range(num_hashes))
    sig = (sh.selectExpr("__id", "explode_outer(__sh) AS __s")
             .groupBy("__id")
             .agg(F.expr(f"array({mins}) AS __sig")))
    # band keys: hash of each signature slice. The explode multiplies row
    # count x bands (16x), so it carries only (id, sig, band, key): the
    # fixed-width 64-long signature rides along (it is needed for
    # est_jaccard and re-deriving it would re-run the 64-salt minhash — the
    # pipeline's dominant CPU), but the full shingle array — the unbounded,
    # document-sized payload — stays behind in the slim per-doc `sh` frame
    # and is joined back onto the (much smaller) deduplicated candidate set
    # for verification. Carrying shingles through the explode was the 16x
    # shuffle-payload amplification flagged at 100 TB scale; re-shingling
    # for the verify joins is one cheap string pass, not 64 hashes.
    band_hash = "md5" if hash_fn == "md5" else "xxhash64"

    def _band(b: int) -> str:
        parts = ", ".join(f"CAST(element_at(__sig, {b * r + j + 1}) AS STRING)"
                          for j in range(r))
        return f"struct({b} AS band, {band_hash}(concat_ws(',', {parts})) AS key)"

    band_rows = (sig.selectExpr(
        "__id", "__sig",
        f"explode(array({', '.join(_band(b) for b in range(bands))})) AS __b")
        .selectExpr("__id", "__sig", "__b.band AS __band", "__b.key AS __key"))
    if max_bucket_size is not None:
        ok = (band_rows.groupBy("__band", "__key")
              .agg(F.expr("count(1) AS __bs"))
              .filter(f"__bs <= {int(max_bucket_size)}")
              .select("__band", "__key"))
        # same join key as the self-join below -> shuffle reuse
        band_rows = band_rows.join(ok, ["__band", "__key"])
    left = band_rows.selectExpr("__id AS id_a", "__sig AS __sig_a", "__band",
                                "__key")
    right = band_rows.selectExpr("__id AS id_b", "__sig AS __sig_b", "__band",
                                 "__key")
    cands = (left.join(right, ["__band", "__key"])
             .filter("id_a < id_b")
             .selectExpr("id_a", "id_b", "__sig_a", "__sig_b")
             .dropDuplicates(["id_a", "id_b"]))
    cands = (cands
             .join(sh.selectExpr("__id AS id_a", "__sh AS __sh_a"), "id_a")
             .join(sh.selectExpr("__id AS id_b", "__sh AS __sh_b"), "id_b"))
    est = ("CAST(size(filter(zip_with(__sig_a, __sig_b, "
           "(x, y) -> CAST(x = y AS INT)), x -> x = 1)) AS DOUBLE) "
           f"/ {num_hashes}")
    inter = "size(array_intersect(__sh_a, __sh_b))"
    union = f"size(__sh_a) + size(__sh_b) - {inter}"
    return (cands.selectExpr("*", f"{est} AS est_jaccard",
                             f"CAST({inter} AS DOUBLE) / ({union}) AS jaccard")
            .filter(f"jaccard >= {dbl(threshold)}")
            .selectExpr("id_a", "id_b", "est_jaccard", "jaccard"))


def minhash_lsh_dedup(df: DataFrame, id_col: str, text_col: str,
                      **kwargs) -> DataFrame:
    """Drop near-duplicates: for every verified pair keep the smaller id.
    Connected components are approximated by one pruning round (pair→drop
    larger id), which removes every doc that duplicates a kept doc."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kwargs)
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column, shingle_n: int = 3,
            hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash (bigint) from character shingles: per-bit weighted vote
    over per-shingle hash bits.

    ``hash_fn='xxhash64'`` (default): JVM-native, the fast path.
    ``hash_fn='md5'``: the 64-bit value is the first 16 hex chars of
    md5(shingle) — engine-portable, so the full pipeline is reproducible in
    any SQL engine (the mode the correctness oracle verifies).
    """
    norm = normalize_text(text)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (shingle_n - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(shingle_n))))

    if hash_fn == "md5":
        hashes = F.transform(sh, lambda s: F.substring(F.md5(s), 1, 16))

        def _vote(b: int):
            # bit b (0 = LSB) of the 64-bit value = bit (b % 4) of the hex
            # digit at 1-based position 16 - b // 4 (hex chars are MSB-first)
            def bit_of(h):
                d = F.conv(F.substring(h, 16 - b // 4, 1), 16, 10).cast("int")
                return F.shiftright(d, b % 4).bitwiseAND(F.lit(1))
            return F.aggregate(
                hashes, F.lit(0),
                lambda acc, h: acc + F.when(bit_of(h) == 1, 1).otherwise(-1))

        votes = {b: _vote(b) for b in range(64)}
    else:
        hashes = F.transform(sh, lambda s: F.xxhash64(s))

        def _vote_mask(bv: int):
            return F.aggregate(
                hashes, F.lit(0),
                lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(bv)) != 0, 1)
                                      .otherwise(-1))

        votes = {b: _vote_mask((1 << b) if b < 63 else -(2 ** 63))
                 for b in range(64)}

    bits = []
    for b in range(64):
        bitval = (1 << b) if b < 63 else -(2 ** 63)  # bit 63 is the sign bit
        bits.append(F.when(votes[b] > 0, F.lit(bitval).cast("long"))
                     .otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _simhash_df(df: DataFrame, id_col: str, text_col: str,
                shingle_n: int = 3, hash_fn: str = "xxhash64") -> DataFrame:
    """(__id, __sh) 64-bit SimHash, computed relationally: explode shingles
    -> one row per (shingle, bit) -> per-bit vote sum -> reassemble the
    bigint. All narrow JVM expressions + two partial-agg shuffles on __id —
    the shape that scales, and ~10x faster than folding 64 ``aggregate()``
    passes over the shingle array per row. One code path for both hash
    functions; only the per-(hash, bit) vote expression differs:

    - ``xxhash64`` (fast path): the hash is already a BIGINT; bit ``__b`` is
      ``shiftrightunsigned(__h, __b) & 1``.
    - ``md5`` (engine-portable oracle mode): the 64-bit value is the first 16
      hex chars; bit ``__b`` = bit ``__b % 4`` of hex digit ``16 - __b / 4``.
    """
    # normalized text projected before the shingle transform (r13 CSE
    # fix — see _shingle_df): the regex normalize must not re-run per
    # shingle position
    normed = df.select(F.col(id_col).alias("__id"),
                       normalize_text(F.col(text_col)).alias("__norm"))
    nc = F.col("__norm")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.length(nc) - (shingle_n - 1), F.lit(1))),
            lambda i: nc.substr(i, F.lit(shingle_n))))
    if hash_fn == "md5":
        hcol = F.substring(F.md5("__g"), 1, 16)
        vote_term = F.expr(
            "CASE WHEN (CAST(conv(substring(__h, 16 - CAST(__b DIV 4 AS INT), 1),"
            " 16, 10) AS INT) DIV array(1, 2, 4, 8)[CAST(__b % 4 AS INT)]) % 2 = 1"
            " THEN 1 ELSE -1 END")
    else:
        hcol = F.xxhash64("__g")
        vote_term = F.expr(
            "CASE WHEN shiftrightunsigned(__h, CAST(__b AS INT)) & 1 = 1"
            " THEN 1 ELSE -1 END")
    h = (normed.select("__id", F.explode(sh).alias("__g"))
               .select("__id", hcol.alias("__h")))
    b = h.select("__id", "__h",
                 F.explode(F.sequence(F.lit(0), F.lit(63))).alias("__b"))
    votes = (b.groupBy("__id", "__b")
              .agg(F.sum(vote_term).alias("__v")))
    bitval = F.expr(
        "CASE WHEN __b = 63 THEN CAST(-9223372036854775808 AS BIGINT)"
        " ELSE shiftleft(CAST(1 AS BIGINT), CAST(__b AS INT)) END")
    return (votes.groupBy("__id")
            .agg(F.sum(F.when(F.col("__v") > 0, bitval).otherwise(F.lit(0)))
                  .cast("long").alias("__sh")))


def _simhash_md5_df(df: DataFrame, id_col: str, text_col: str,
                    shingle_n: int = 3) -> DataFrame:
    return _simhash_df(df, id_col, text_col, shingle_n, hash_fn="md5")


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit chunks
    (pigeonhole ⇒ full recall at hamming ≤ 3); verified with
    bit_count(a XOR b) ≤ max_hamming. Output (id_a, id_b, hamming)."""
    base = _simhash_df(df, id_col, text_col, hash_fn=hash_fn)
    chunks = base.select(
        "__id", "__sh",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftrightunsigned(F.col("__sh"), c * 16)
                      .bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for c in range(4)])).alias("__c"))
    chunks = chunks.select("__id", "__sh", F.col("__c.chunk").alias("__chunk"),
                           F.col("__c.key").alias("__key"))
    left = chunks.select(F.col("__id").alias("id_a"),
                         F.col("__sh").alias("__sa"), "__chunk", "__key")
    right = chunks.select(F.col("__id").alias("id_b"),
                          F.col("__sh").alias("__sb"), "__chunk", "__key")
    cands = (left.join(right, ["__chunk", "__key"])
             .filter(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (cands.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= int(max_hamming))
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(df: DataFrame, id_col: str, vec_col: str,
                           threshold: float = 0.95,
                           n_planes: int = 12) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.

    Scale path: random-hyperplane LSH — sign-bit signature over ``n_planes``
    deterministic pseudo-random hyperplanes (seeded per plane from the
    dimension index via a hash — no RNG state needed on executors), bucket
    join on the signature, exact cosine verification within buckets.
    """
    dim_probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
    d = int(dim_probe["d"])
    import numpy as np
    rng = np.random.default_rng(42)
    planes = rng.standard_normal((n_planes, d))
    # the norm is projected BEFORE the unit transform (r13 CSE fix): as an
    # inline expression it was re-evaluated inside the lambda once per
    # vector ELEMENT — an O(d^2) normalize per row
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                              lambda a, x: a + x.cast("double") * x.cast("double")))
    normed = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"),
                       norm.alias("__nrm"))
    unit = F.transform(F.col("__vec"),
                       lambda x: x.cast("double") / F.col("__nrm"))
    base = normed.filter(F.col("__nrm") > 0).select("__id", unit.alias("__v"))
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(planes[p, j])) for j in range(d)])
        dot = F.aggregate(F.zip_with(F.col("__v"), plane, lambda a, b: a * b),
                          F.lit(0.0), lambda a, x: a + x)
        sig = sig.bitwiseOR(F.when(dot > 0, F.lit(2 ** p).cast("long"))
                             .otherwise(F.lit(0).cast("long")))
    bucketed = base.withColumn("__sig", sig)
    left = bucketed.select(F.col("__id").alias("id_a"),
                           F.col("__v").alias("__va"), "__sig")
    right = bucketed.select(F.col("__id").alias("id_b"),
                            F.col("__v").alias("__vb"), "__sig")
    cos = F.aggregate(F.zip_with(F.col("__va"), F.col("__vb"), lambda a, b: a * b),
                      F.lit(0.0), lambda a, x: a + x)
    return (left.join(right, "__sig").filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= float(threshold))
            .select("id_a", "id_b", "cosine"))


def embedding_cosine_pairs_exact(df: DataFrame, id_col: str, vec_col: str,
                                 threshold: float = 0.95) -> DataFrame:
    """Brute-force verification baseline (for correctness oracles and small
    tables): full self-join. O(n²) — do not use at scale."""
    # __nrm projected before the unit transform (r13 CSE fix, see
    # embedding_cosine_pairs)
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                              lambda a, x: a + x.cast("double") * x.cast("double")))
    normed = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"),
                       norm.alias("__nrm"))
    unit = F.transform(F.col("__vec"),
                       lambda x: x.cast("double") / F.col("__nrm"))
    base = normed.filter(F.col("__nrm") > 0).select("__id", unit.alias("__v"))
    left = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    right = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    cos = F.aggregate(F.zip_with(F.col("__va"), F.col("__vb"), lambda a, b: a * b),
                      F.lit(0.0), lambda a, x: a + x)
    return (left.crossJoin(right).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= float(threshold))
            .select("id_a", "id_b", "cosine"))


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
                 max_iter: int = 50) -> DataFrame:
    """Resolve near-duplicate PAIRS into connected components.

    Near-dup detection (`minhash_lsh_pairs`, `simhash_pairs`,
    `embedding_cosine_pairs`) emits edges; corpus dedup needs the
    transitive closure — if A~B and B~C, all three are one duplicate
    cluster even when A~C was never emitted as a pair. The reference stops
    at pairwise detection; this is the missing cluster step a corpus-scale
    pipeline runs between "pairs" and "keep one per cluster".

    Algorithm: hash-min label propagation with pointer-doubling shortcuts.
    Every node starts labeled with its own id; each round takes the min
    label over graph neighbors, then shortcuts ``lbl <- lbl(lbl)``
    (pointer doubling), so convergence is O(log diameter) rounds rather
    than O(diameter). Each round is two shuffle joins + one group-min over
    the LABEL table (2 longs per node) — never over document payloads —
    and the frame is ``localCheckpoint``-ed per round to truncate lineage
    (at cluster scale, set ``spark.checkpoint.dir`` and swap for
    ``checkpoint()`` to survive executor loss). Convergence is detected
    with a LIMIT-1 existence probe, not a full count.

    Returns one row per node that appears in ``pairs``:
    ``(id, cluster_id, cluster_size, is_canonical)`` where ``cluster_id``
    is the component's minimum id and ``is_canonical`` marks the survivor.
    Nodes in no pair are singleton clusters by definition and are omitted
    (left-join this output back onto the corpus; null cluster = keep).
    """
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    edges = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
              .distinct().localCheckpoint())
    labels = (edges.select(F.col("a").alias("id")).distinct()
                   .withColumn("lbl", F.col("id")))
    for _ in range(int(max_iter)):
        nbr = (edges.join(labels.select(F.col("id").alias("a"),
                                        F.col("lbl").alias("albl")), "a")
                    .groupBy(F.col("b").alias("id"))
                    .agg(F.min("albl").alias("nlbl")))
        stepped = (labels.withColumnRenamed("lbl", "prev")
                         .join(nbr, "id", "left")
                         .select("id",
                                 F.least(F.col("prev"),
                                         F.coalesce("nlbl", "prev"))
                                  .alias("lbl"),
                                 "prev"))
        m = stepped.select(F.col("id").alias("__mid"),
                           F.col("lbl").alias("__mlbl"))
        short = (stepped.join(m, stepped["lbl"] == m["__mid"], "left")
                 .select(stepped["id"],
                         F.least(stepped["lbl"],
                                 F.coalesce(m["__mlbl"], stepped["lbl"]))
                          .alias("lbl"),
                         stepped["prev"])
                 .localCheckpoint())
        labels = short.select("id", "lbl")
        if short.filter(F.col("lbl") != F.col("prev")).limit(1).count() == 0:
            break
    else:
        # max_iter rounds elapsed without the change probe reaching zero:
        # the labels are PARTIAL components — returning them silently
        # would under-merge clusters (a correctness bug, not a perf one)
        raise RuntimeError(
            f"dup_clusters did not converge in max_iter={max_iter} rounds; "
            "raise max_iter (pointer doubling needs ~log2(diameter) + 2)")
    sz = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sz, "lbl")
            .select("id", F.col("lbl").alias("cluster_id"), "cluster_size",
                    (F.col("id") == F.col("lbl")).alias("is_canonical")))


def resolve_duplicates(df: DataFrame, id_col: str, pairs: DataFrame,
                       a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Keep exactly one document per duplicate CLUSTER (the min-id
    canonical), unlike `minhash_lsh_dedup`'s single pruning round which
    can over-drop on chains (B dropped for A, C dropped for B even though
    C survives into no kept doc's pair). Transitive-closure-correct."""
    drops = (dup_clusters(pairs, a_col, b_col)
             .filter(~F.col("is_canonical"))
             .select(F.col("id").alias(id_col)))
    return df.join(drops, on=id_col, how="left_anti")
