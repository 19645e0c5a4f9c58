"""Multi-key hierarchy operators (SURVEY.md §2.4).

Parity targets: the four hierarchy table functions of the reference —
``ts_validate_separator`` (``ts_validate_separator.cpp:93-105``),
``ts_combine_keys`` (``ts_combine_keys.cpp:11-38``),
``ts_aggregate_hierarchy`` (``ts_aggregate_hierarchy.cpp:16-29,344-359``),
``ts_split_keys`` (``ts_split_keys.cpp:213-232``).

Scale note: ``ts_aggregate_hierarchy`` is expressed with Catalyst's native
``rollup`` (grouping sets), which computes all N+1 prefix levels in a single
shuffle with partial aggregation — the idiomatic replacement for the
reference's per-level C++ loop.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sqltext import q, sql_str

DEFAULT_SEPARATOR = "|"
DEFAULT_KEYWORD = "AGGREGATED"


def ts_validate_separator(df: DataFrame, id_cols: list[str],
                          separator: str = DEFAULT_SEPARATOR) -> DataFrame:
    """One row: (separator, is_valid, n_conflicts, conflicting_values, message)."""
    conflict = reduce(lambda a, b: a | b,
                      [F.col(c).cast("string").contains(separator) for c in id_cols])
    val = F.concat_ws("=", *[F.col(c).cast("string") for c in id_cols])
    agg = df.agg(
        F.sum(F.when(conflict, 1).otherwise(0)).cast("int").alias("n_conflicts"),
        F.slice(F.collect_list(F.when(conflict, val)), 1, 100).alias("conflicting_values"),
    )
    return agg.select(
        F.lit(separator).alias("separator"),
        (F.col("n_conflicts") == 0).alias("is_valid"),
        F.col("n_conflicts"),
        F.col("conflicting_values"),
        F.when(F.col("n_conflicts") == 0,
               F.lit("Separator is safe to use"))
         .otherwise(F.concat(F.lit("Separator found in "),
                             F.col("n_conflicts").cast("string"),
                             F.lit(" value(s); choose a different separator")))
         .alias("message"),
    )


def ts_combine_keys(df: DataFrame, id_cols: list[str], ds_col: str, y_col: str,
                    separator: str = DEFAULT_SEPARATOR) -> DataFrame:
    """(unique_id, <ds>, <y>) — concat id columns with the separator."""
    return df.select(
        F.concat_ws(separator, *[F.col(c).cast("string") for c in id_cols])
         .alias("unique_id"),
        F.col(ds_col), F.col(y_col),
    )


def ts_aggregate_hierarchy(df: DataFrame, id_cols: list[str], ds_col: str,
                           y_col: str, separator: str = DEFAULT_SEPARATOR,
                           aggregate_keyword: str = DEFAULT_KEYWORD) -> DataFrame:
    """All N+1 prefix aggregation levels per date, values summed; grouped-out
    key parts take ``aggregate_keyword``. Output ``(unique_id, <ds>, <y>)``.

    Uses ``rollup(id1..idN)`` so Catalyst plans one shuffle with grouping
    sets; ``grouping()`` distinguishes grouped-out from genuine NULL keys.
    """
    # grouping sets: every id-prefix level, always keeping ds —
    # (id1..idN, ds), (id1..idN-1, ds), ..., (ds)
    sets = [[*id_cols[:k], ds_col] for k in range(len(id_cols), -1, -1)]
    rolled = (df.groupingSets(sets, *id_cols, ds_col)
                .agg(F.expr(f"sum(CAST({q(y_col)} AS DOUBLE)) AS __y"),
                     *[F.expr(f"grouping({q(c)}) AS {q('__g_' + c)}")
                       for c in id_cols]))
    parts = ", ".join(
        f"CASE WHEN {q('__g_' + c)} = 1 THEN {sql_str(aggregate_keyword)} "
        f"ELSE CAST({q(c)} AS STRING) END" for c in id_cols)
    return rolled.selectExpr(
        f"concat_ws({sql_str(separator)}, {parts}) AS unique_id",
        q(ds_col), f"__y AS {q(y_col)}")


def ts_split_keys(df: DataFrame, unique_id_col: str, ds_col: str, y_col: str,
                  separator: str = DEFAULT_SEPARATOR,
                  col_names: list[str] | None = None,
                  n_parts: int | None = None) -> DataFrame:
    """Inverse of combine: split ``unique_id`` into ``id_part_1..N`` (or
    ``col_names``). ``n_parts`` defaults to the max part count in the data
    (the reference infers it at bind time from the first rows)."""
    pattern = re.escape(separator)
    if n_parts is None:
        if col_names:
            n_parts = len(col_names)
        else:
            # bind-time inference from the first row (ref
            # ts_split_keys.cpp:213-232) — head(1) reads one partition with a
            # limit, NOT a full scan like agg(max).collect() would
            first = df.select(
                F.size(F.split(F.col(unique_id_col), pattern, -1))
                .alias("__n")).head(1)
            n_parts = first[0]["__n"] if first else 1
    names = col_names or [f"id_part_{i + 1}" for i in range(n_parts)]
    split = F.split(F.col(unique_id_col), pattern, -1)
    return df.select(
        *[split.getItem(i).alias(names[i]) for i in range(n_parts)],
        F.col(ds_col), F.col(y_col),
    )
