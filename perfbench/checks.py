"""Output checks run outside the timed region.

Frames are compared the way the repository's bit audit compares them:
every double by its IEEE-754 bit pattern (so -0.0 vs +0.0 and last-ulp
drift count as mismatches; every NaN is one value), rows as an unordered
multiset, column names as a set. The comparison is vectorized, so large
outputs check in seconds.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_CANON_NAN = np.int64(0x7FF8000000000000)


def arrow_to_pandas(tab: pa.Table, tz: str = "UTC") -> pd.DataFrame:
    """``toArrow()`` output as ``toPandas()`` would give it: zoned
    timestamps become naive wall-clock time in the session time zone."""
    cols = {}
    for name, col in zip(tab.column_names, tab.columns):
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = pc.local_timestamp(col.cast(pa.timestamp("us", tz=tz)))
        cols[name] = col
    return pa.table(cols).to_pandas()


def _canon_col(s: pd.Series) -> pd.Series:
    if s.dtype.kind == "f":
        bits = s.to_numpy(dtype="float64").view(np.int64).copy()
        bits[np.isnan(s.to_numpy(dtype="float64"))] = _CANON_NAN
        return pd.Series(bits, index=s.index)
    if s.dtype.kind in "iub":
        return s.astype("int64")
    if s.dtype.kind == "M":
        return s.astype("datetime64[us]").astype("int64")
    return s.map(lambda v: repr(_plain(v)))


def _plain(v):
    if isinstance(v, float):
        return "NaN" if v != v else float(v).hex()
    if isinstance(v, np.ndarray):
        return tuple(_plain(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return str(pd.Timestamp(v))
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return None
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values replaced by comparable bit keys,
    rows sorted."""
    cols = sorted(df.columns)
    out = pd.DataFrame({c: _canon_col(df[c]) for c in cols})
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal bit for bit, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = canon(got), canon(want)
    for c in a.columns:
        if a[c].dtype != b[c].dtype:
            a[c], b[c] = a[c].astype(str), b[c].astype(str)
        diff = (a[c].to_numpy() != b[c].to_numpy())
        if diff.any():
            return (f"column {c}: {int(diff.sum())}/{len(a)} rows differ "
                    f"(first {a[c].iloc[int(np.argmax(diff))]!r} vs "
                    f"{b[c].iloc[int(np.argmax(diff))]!r})")
    return None


def bits_equal(x: np.ndarray, y: np.ndarray) -> bool:
    x = np.asarray(x, dtype="float64")
    y = np.asarray(y, dtype="float64")
    if x.shape != y.shape:
        return False
    bx, by = x.view(np.int64).copy(), y.view(np.int64).copy()
    bx[np.isnan(x)] = _CANON_NAN
    by[np.isnan(y)] = _CANON_NAN
    return bool((bx == by).all())


def pin(values, nd: int) -> np.ndarray:
    """Spark's ``round(x, nd) + 0.0D``: HALF_UP on the shortest decimal
    representation of each double, then signed zero normalized."""
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal(1).scaleb(-nd)
    out = [float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP))
           if v == v and abs(v) != float("inf") else float(v)
           for v in np.asarray(values, dtype="float64")]
    return np.array(out) + 0.0


_WS = re.compile(r"\s+")


def _shingles(text: str, n: int = 3) -> set[str]:
    t = _WS.sub(" ", text.lower()).strip()
    return {t[i:i + n] for i in range(max(len(t) - (n - 1), 1))}


def check_minhash_pairs(got: pd.DataFrame, docs: pd.DataFrame,
                        n_hashes: int, threshold: float,
                        recall_at: float = 0.95) -> str | None:
    """Independent replay of what a MinHash-LSH pair list must satisfy:
    every pair is ordered and unique, its exact 3-shingle Jaccard equals
    the ``jaccard`` column bit for bit and clears the threshold, its
    signature estimate is a multiple of 1/num_hashes, and every pair of
    documents whose exact Jaccard is at least ``recall_at`` is reported.
    With 8 bands of 4 rows LSH misses a pair at Jaccard 0.95 with
    probability (1 - 0.95**4)**8, about 1.4e-6. The documents must hold at
    least one such pair, so the recall part always has something to find."""
    if list(got.columns) != ["id_a", "id_b", "est_jaccard", "jaccard"]:
        return f"columns {list(got.columns)}"
    ids = [int(i) for i in docs["doc_id"]]
    sh = {i: _shingles(t) for i, t in zip(ids, docs["text"])}

    def jac(x: int, y: int) -> float:
        inter = len(sh[x] & sh[y])
        return inter / (len(sh[x]) + len(sh[y]) - inter)
    a, b = got["id_a"].to_numpy(), got["id_b"].to_numpy()
    if (a >= b).any() or got.duplicated(["id_a", "id_b"]).any():
        return "pairs not ordered and unique"
    exact = np.array([jac(x, y) for x, y in zip(a.tolist(), b.tolist())])
    if not bits_equal(exact, got["jaccard"].to_numpy()):
        return "jaccard differs from the exact shingle replay"
    if (exact < threshold).any():
        return "pair below the threshold"
    est = got["est_jaccard"].to_numpy() * n_hashes
    if not bits_equal(est, np.round(est)):
        return "est_jaccard not a multiple of 1/num_hashes"
    found = set(zip(a.tolist(), b.tolist()))
    ids.sort()
    close = [(x, y) for j, x in enumerate(ids) for y in ids[j + 1:]
             if jac(x, y) >= recall_at]
    if not close:
        return f"no document pair at Jaccard >= {recall_at} to find"
    missed = [p for p in close if p not in found]
    if missed:
        return (f"{len(missed)} of {len(close)} pairs at Jaccard >= "
                f"{recall_at} not reported (first {missed[0]})")
    return None
