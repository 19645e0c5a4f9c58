"""Text-analysis operators for large-scale training-data pipelines.

Beyond-parity surface (BASELINE.json north star): language ID, quality
scoring, token counting, and document fingerprinting over a `documents`-style
table — all pure Spark SQL expressions (regexp/length/array functions), so
the whole pipeline stays JVM-side and scales linearly with no shuffle.

Designed for 100 TB: every operator is a narrow map (no aggregation), so it
pipelines with the parquet scan; column pruning keeps the scan at the text
column plus requested passthroughs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sqltext import q, sql_str

WORD_RE = r"\w+"
# BPE-ish pre-tokenizer: word pieces OR single non-space punctuation
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^\w\s]"

# tiny built-in stopword profiles for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
           "with", "as", "his", "on", "be", "at", "by", "had", "not", "are"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht",
           "ein", "eine", "als", "auch", "auf", "aus", "bei", "nach", "wird"],
    "fr": ["le", "la", "les", "de", "et", "est", "en", "que", "une", "dans",
           "pour", "qui", "sur", "pas", "plus", "par", "avec", "sont"],
    "es": ["el", "la", "los", "las", "de", "y", "es", "en", "que", "una",
           "para", "con", "por", "del", "se", "no", "su", "como"],
    "it": ["il", "la", "di", "e", "che", "in", "un", "una", "per", "con",
           "del", "si", "non", "sono", "come", "anche", "alla", "più"],
}
LANG_PRIORITY = ["en", "de", "fr", "es", "it"]


# ---------------------------------------------------------------------------
# Token counting
# ---------------------------------------------------------------------------

_WS_SQL = sql_str(r"\s+")


def _words(text: str) -> str:
    """SQL text: lowercased words of the SQL expression ``text`` split on
    whitespace runs (blank text gives ``['']``)."""
    return f"split(lower(trim({text})), {_WS_SQL})"


def token_count(text: str, method: str = "whitespace") -> str:
    """SQL text: token count of the SQL expression ``text``. 'whitespace'
    splits on runs of whitespace; 'bpe' counts BPE-ish pre-tokens (letter
    runs, digit runs, punctuation)."""
    if method == "whitespace":
        return (f"CASE WHEN length(trim({text})) = 0 THEN 0 "
                f"ELSE size(split(trim({text}), {_WS_SQL})) END")
    if method == "bpe":
        return f"regexp_count({text}, {sql_str(BPE_RE)})"
    raise ValueError(f"unknown token method {method!r}")


def text_token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Adds n_tokens_ws and n_tokens_bpe columns."""
    t = q(text_col)
    return (df.withColumn("n_tokens_ws", F.expr(token_count(t, "whitespace")))
              .withColumn("n_tokens_bpe", F.expr(token_count(t, "bpe"))))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

def text_quality(df: DataFrame, text_col: str) -> DataFrame:
    """Length / punctuation / stopword / word-length heuristics composed into
    ``quality_score`` ∈ [0,1]. All JVM-side expressions.

    The count subexpressions are projected ONCE and every ratio/score
    reads the bound columns (r13 CSE fix): composing the score straight
    from the builder expressions re-inlined ``split(trim(text))`` ~12x
    and each regexp count 3-4x into the single output Project —
    codegen's subexpression elimination does not recover it (measured
    2.5x on the bench key). CollapseProject keeps the two Projects
    separate because the aliases are non-cheap and multiply referenced.
    Ratio/score formulas are unchanged — same ops on the same values."""
    t = q(text_col)
    en_stop = "array(" + ", ".join(map(sql_str, STOPWORDS["en"])) + ")"
    pre = df.selectExpr(
        "*", f"length({t}) AS __tq_nc",
        f"{token_count(t)} AS __tq_nw",
        f"regexp_count({t}, {sql_str(PUNCT_RE)}) AS __tq_np",
        f"regexp_count({t}, '[A-Za-z]') AS __tq_na",
        f"size(array_intersect(array_distinct({_words(t)}), {en_stop})) "
        "AS __tq_ns")
    mean_word_len = ("CASE WHEN __tq_nw > 0 THEN CAST(__tq_nc AS DOUBLE) "
                     "/ __tq_nw ELSE 0.0D END")
    punct_ratio = ("CASE WHEN __tq_nc > 0 THEN CAST(__tq_np AS DOUBLE) "
                   "/ __tq_nc ELSE 0.0D END")
    alpha_ratio = ("CASE WHEN __tq_nc > 0 THEN CAST(__tq_na AS DOUBLE) "
                   "/ __tq_nc ELSE 0.0D END")
    stop_ratio = ("CASE WHEN __tq_nw > 0 THEN CAST(__tq_ns AS DOUBLE) "
                  "/ CAST(least(__tq_nw, 20) AS DOUBLE) ELSE 0.0D END")
    length_score = "least(CAST(__tq_nw AS DOUBLE) / 100.0D, 1.0D)"
    punct_score = (f"CASE WHEN ({punct_ratio}) <= 0.2D THEN 1.0D ELSE "
                   f"greatest(0.0D, 1.0D - (({punct_ratio}) - 0.2D) * 4.0D) "
                   "END")
    word_len_score = (f"CASE WHEN ({mean_word_len}) >= 3.0D AND "
                      f"({mean_word_len}) <= 10.0D THEN 1.0D ELSE 0.5D END")
    score = (f"({length_score}) * 0.3D + ({punct_score}) * 0.2D "
             f"+ ({alpha_ratio}) * 0.2D "
             f"+ least(({stop_ratio}) * 4.0D, 1.0D) * 0.15D "
             f"+ ({word_len_score}) * 0.15D")
    return (pre.selectExpr("*", "__tq_nc AS n_chars_text",
                           "__tq_nw AS n_words",
                           f"{punct_ratio} AS punct_ratio",
                           f"{alpha_ratio} AS alpha_ratio",
                           f"{stop_ratio} AS stopword_ratio",
                           f"{mean_word_len} AS mean_word_len",
                           f"{score} AS quality_score")
               .drop("__tq_nc", "__tq_nw", "__tq_np", "__tq_na", "__tq_ns"))


# ---------------------------------------------------------------------------
# Language identification (stopword-overlap heuristic)
# ---------------------------------------------------------------------------

def language_id(df: DataFrame, text_col: str) -> DataFrame:
    """Adds ``lang_pred`` + per-language overlap scores. Deterministic
    tie-break by LANG_PRIORITY order."""
    # the distinct-words array is projected ONCE (r13 CSE fix): inlining
    # it into each score column re-ran split(lower(trim(text))) once per
    # language per row
    out = df.withColumn("__li_words",
                        F.expr(f"array_distinct({_words(q(text_col))})"))
    words = F.col("__li_words")
    for lang in LANG_PRIORITY:
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        out = out.withColumn(f"score_{lang}", F.size(F.array_intersect(words, arr)))
    best = F.lit("unknown")
    best_score = F.lit(0)
    # reverse order so earlier languages win ties
    for lang in reversed(LANG_PRIORITY):
        s = F.col(f"score_{lang}")
        cond = s >= best_score
        best = F.when((s > 0) & cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return out.withColumn("lang_pred", best).drop("__li_words")


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace + trim — the canonical form for
    exact-dup fingerprints."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def normalize_text_sql(text: str) -> str:
    """SQL-text form of :func:`normalize_text`."""
    return f"trim(regexp_replace(lower({text}), {_WS_SQL}, ' '))"


def text_fingerprint(df: DataFrame, text_col: str) -> DataFrame:
    """Adds ``fingerprint`` = md5 of the normalized text (engine-portable,
    exact-dup key) and ``fingerprint64`` = xxhash64 (cheap 64-bit variant for
    shuffle keys)."""
    # normalized text projected once (r13 CSE fix) — the two hash columns
    # would otherwise each re-run the regexp_replace normalize per row
    pre = df.withColumn("__fp_norm", normalize_text(F.col(text_col)))
    return (pre.withColumn("fingerprint", F.md5(F.col("__fp_norm")))
               .withColumn("fingerprint64", F.xxhash64(F.col("__fp_norm")))
               .drop("__fp_norm"))


def text_analysis(df: DataFrame, text_col: str) -> DataFrame:
    """Full pipeline: tokens + quality + language + fingerprint."""
    return text_fingerprint(
        language_id(text_quality(text_token_counts(df, text_col), text_col),
                    text_col), text_col)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Engine-portable PII patterns (valid and equivalent under Java regex and
#: RE2 — no backreferences, no lookaround), ordered as applied.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def pii_redact(df: DataFrame, text_col: str,
               out_col: str = "text_redacted") -> DataFrame:
    """Regex PII scrubbing — the standard pre-training redaction pass
    (emails, IPv4 addresses, NANP-style phone numbers) as pure Catalyst
    ``regexp_count``/``regexp_replace`` expressions: a narrow map that
    pipelines with the parquet scan, zero shuffle, linear at 100 TB.

    Output: input + ``n_emails``, ``n_ipv4``, ``n_phones`` (match counts
    on the ORIGINAL text — kinds count independently, so an email whose
    domain is an IP literal counts under both), ``n_pii`` (their sum),
    and ``out_col`` = the text with matches replaced by ``<EMAIL>`` /
    ``<IP>`` / ``<PHONE>``, applied in that fixed order (replacement is
    sequential, so a match consumed by an earlier kind is not re-matched
    by a later one — deterministic and engine-replayable).

    The patterns avoid every Java-vs-RE2 divergence (no backreferences,
    no lookaround, no possessive quantifiers), so a DuckDB
    ``regexp_replace(..., 'g')`` replay is bit-identical.
    """
    t = q(text_col)
    counts = {f"n_{kind}s" if kind != "ipv4" else "n_ipv4":
              f"CAST(regexp_count({t}, {sql_str(pat)}) AS INT)"
              for kind, pat, _ in PII_PATTERNS}
    red = t
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, {sql_str(pat)}, {sql_str(token)})"
    # r13 CSE fix: n_pii sums the BOUND count columns — summing the count
    # expressions re-ran every PII regex scan a second time per row
    pre = df.withColumns({k: F.expr(v) for k, v in counts.items()})
    total = " + ".join(map(q, counts))
    return pre.withColumns({"n_pii": F.expr(f"CAST({total} AS INT)"),
                            out_col: F.expr(red)})


def text_entropy(df: DataFrame, text_col: str) -> DataFrame:
    """Character- and word-level Shannon entropy (nats) per document —
    the classic gibberish/boilerplate signal a quality gate composes
    with :func:`text_quality`: natural prose sits around 2.8-4.2 nats of
    character entropy; base64/hex blobs run higher with a flat
    distribution, repeated boilerplate collapses toward 0. Output: input
    + ``char_entropy``, ``word_entropy``, ``n_distinct_chars``,
    ``n_distinct_words``.

    Pure JVM array expressions, zero shuffle: the frequency of each
    DISTINCT symbol is a filter-count over the symbol array (cost
    distinct x length per doc — bounded by document size, the same L^2
    bound as gopher_stats' line self-counts), and the entropy fold runs
    over the SORTED distinct symbols so the float summation order is
    deterministic and engine-replayable. The one libm call (ln) rides
    the contract's 6-decimal pin.
    """
    t = F.col(text_col)
    empty = F.array().cast("array<string>")
    # guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, and the
    # module's bare split gives [''] for blank text — both must be []
    chars = F.when(F.length(t) > 0,
                   F.transform(F.sequence(F.lit(1), F.length(t)),
                               lambda i: t.substr(i, F.lit(1))))              .otherwise(empty)
    words = F.when(F.length(F.trim(t)) > 0,
                   F.expr(_words(q(text_col)))).otherwise(empty)

    def entropy(arr):
        # r13: run-length fold over the SORTED array instead of a
        # filter-count per distinct symbol — O(n log n) vs O(distinct x n).
        # Value-identical to the old form: each distinct symbol's term
        # (c/n)*ln(c/n) is added once, in sorted-symbol order (the sort
        # groups equal symbols into runs, and runs flush in that same
        # order), with the same integer count, cast and division, so the
        # float accumulation sequence is bit-for-bit the old one.
        n = F.size(arr).cast("double")

        def term(c):
            cd = c.cast("double")
            return (cd / n) * F.log(cd / n)

        def step(st, x):
            return (F.when(x == st["p"],
                           F.struct(st["s"].alias("s"), st["p"].alias("p"),
                                    (st["c"] + F.lit(1).cast("bigint"))
                                     .alias("c")))
                     .otherwise(F.struct(
                         F.when(st["c"] > 0, st["s"] + term(st["c"]))
                          .otherwise(st["s"]).alias("s"),
                         x.alias("p"),
                         F.lit(1).cast("bigint").alias("c"))))

        folded = F.aggregate(
            F.array_sort(arr),
            F.struct(F.lit(0.0).alias("s"),
                     F.lit(None).cast("string").alias("p"),
                     F.lit(0).cast("bigint").alias("c")),
            step,
            lambda st: F.when(st["c"] > 0, st["s"] + term(st["c"]))
                        .otherwise(st["s"]))
        # + 0.0 normalizes the -0.0 a negated zero-sum produces
        return F.when(F.size(arr) > 0, -folded + F.lit(0.0)) \
                .otherwise(F.lit(0.0))

    # symbol arrays projected ONCE before the folds (r13 CSE fix): an
    # expression referenced inside a higher-order-function lambda is
    # re-evaluated per array element, so the per-character transform ran
    # twice per DISTINCT symbol (O(distinct x length x length) substrs);
    # bound columns make each filter pass a plain array scan
    return (df.withColumn("__chars", chars)
              .withColumn("__words", words)
              .withColumn("char_entropy", entropy(F.col("__chars")))
              .withColumn("word_entropy", entropy(F.col("__words")))
              .withColumn("n_distinct_chars",
                          F.size(F.array_distinct(F.col("__chars")))
                           .cast("bigint"))
              .withColumn("n_distinct_words",
                          F.size(F.array_distinct(F.col("__words")))
                           .cast("bigint"))
              .drop("__chars", "__words"))
