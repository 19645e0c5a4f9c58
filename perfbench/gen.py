"""Seeded input generators for the benchmark.

``write_tables`` writes the ten TPC-H-ish tables (same names, columns,
types and value domains as the testdata in TESTDATA.md, which the
operators and their DuckDB oracles are written against) as one parquet file each.
``m4_daily_panel`` builds a long panel ``(id, ds, y)`` whose series
lengths match the published M4 Daily length figures.
Everything is a pure function of the seed: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PART_ADJ = ("large small hot cold blue red green black white steel brass "
            "copper tiny huge light heavy").split()
PART_NOUN = "ring bolt anvil widget gear nut".split()
PART_TYPES = np.array(["ECONOMY", "LARGE", "SMALL", "STANDARD", "MEDIUM",
                       "PROMO"])

_DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a).astype(int)) + 1
    return (a + rng.integers(0, span, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[ids]
    ends = np.cumsum(lens)
    out = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # 5% near-duplicates: a copy of another document plus a marker word
    dup = rng.choice(n, max(1, n // 20), replace=False)
    src = rng.integers(0, n, len(dup))
    for d, s in zip(dup, src):
        if d != s:
            out[d] = out[s] + " dup"
    # five more inside doc_id < 100, the slice the MinHash-LSH key reads,
    # so its recall check has near-duplicate pairs to find
    near = rng.choice(min(n, 100), 10, replace=False)
    for d, s in zip(near[:5], near[5:]):
        out[d] = out[s] + " dup"
    return out


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf`` (sf0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    n_user = max(1, round(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    text = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": text,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.02, (10, 64))
    emb = rng.normal(0.0, 0.125, (n_emb, 64)) + centers[labels]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write one parquet file per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total


#: M4 Daily training-part lengths as published: shortest 93 points (M4
#: Competitor's Guide), longest 9,919 and mean ~2,357 (the Monash archive's
#: dataset table gives 107 / 9,933 / 2,371 with the 14 test points
#: included). Only these three figures are taken from the sources; the
#: shape between them (log-normal, sigma 0.8) is an assumption.
M4D_MIN, M4D_MAX, M4D_MEAN, M4D_SIGMA = 93, 9_919, 2_357.0, 0.8


def m4_daily_lengths(n_series: int) -> np.ndarray:
    """``n_series`` lengths on a log-normal quantile grid whose median is
    fitted so the mean is ``M4D_MEAN``, clipped to the published range,
    with the shortest and longest set to its ends."""
    from statistics import NormalDist
    q = (np.arange(n_series) + 0.5) / n_series
    z = np.array([NormalDist().inv_cdf(p) for p in q])

    def grid(median: float) -> np.ndarray:
        return np.clip(np.exp(np.log(median) + M4D_SIGMA * z),
                       M4D_MIN, M4D_MAX).astype(np.int64)
    lo, hi = float(M4D_MIN), float(M4D_MAX)
    for _ in range(60):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if grid(mid).mean() < M4D_MEAN else (lo, mid)
    lens = grid(lo)
    lens[0], lens[-1] = M4D_MIN, M4D_MAX
    return lens


def m4_daily_panel(n_series: int, seed: int, long_series: int = 2,
                   long_len: int = 10_500) -> pa.Table:
    """Long panel ``(id, ds, y)`` with M4-Daily-sized series lengths
    (``m4_daily_lengths``) plus ``long_series`` series of at least
    ``long_len`` points, beyond M4's longest, so a single series spans
    more than one 10,000-row Arrow batch. Values are positive random walks
    with a weak weekly cycle.

    The length of each series id is the same for every seed, so every seed
    does the same work with the same partition balance (ids hash to
    shuffle partitions); the seed draws the values and end dates."""
    rng = np.random.default_rng(seed)
    lens = np.concatenate([m4_daily_lengths(n_series - long_series),
                           long_len + 500 * np.arange(long_series)])
    lens = lens[np.random.default_rng(0).permutation(n_series)]
    total = int(lens.sum())
    ids = np.repeat(np.arange(n_series), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    t = np.arange(total) - starts
    end = _days(rng, "2015-01-01", "2016-06-30", n_series)
    first = np.repeat(end.astype("datetime64[D]").astype(np.int64) - lens + 1,
                      lens)
    ds = (first + t).astype("datetime64[D]").astype("datetime64[us]")
    level0 = np.repeat(rng.uniform(500.0, 20000.0, n_series), lens)
    amp = np.repeat(rng.uniform(0.0, 0.05, n_series), lens)
    steps = rng.normal(0.0, 0.01, total)
    steps[starts == t] = 0.0
    walk = np.cumsum(steps)
    walk -= np.repeat(walk[np.cumsum(lens) - lens], lens)
    y = level0 * np.exp(walk) * (1.0 + amp * np.sin(2 * np.pi * (t % 7) / 7))
    return pa.table({
        "id": pa.array([f"D{i}" for i in ids]),
        "ds": ds,
        "y": np.round(y, 2)})
