"""Source readers and panel derivations over the driver testdata.

The engine's universal input shape is the long-format panel
``(id, ds, y)`` (SURVEY.md §1.1). These helpers load the TPC-H-ish
parquet tables and derive deterministic panels from them, matching the
derivations documented in FIXTURES.md ("Driver testdata mapping").

All readers are ``spark.read.parquet`` with the table's pinned schema —
predicate pushdown and column pruning reach the scan for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Column-metadata key carrying a producer's no-NaN witness. A FLOAT
#: column tagged with this (truthfully — make it true BY CONSTRUCTION,
#: e.g. ``coalesce(nanvl(x, NULL), 0.0)`` which maps any NaN to 0.0
#: before the tag is attached) lets ``interpolate_nulls_df`` keep its
#: non-nullable short-circuit under the forecast path's
#: NaN-is-missing semantics: non-nullable rules out NULL, the witness
#: rules out NaN, so no row can need repair and the two in-partition
#: sorts + seven window columns of the null-repair pass are skipped
#: (the r11 clean-panel plan win, kept compatible with the r12
#: non-nullable-NaN correctness fix). Columns without the witness take
#: the safe path.
NO_NAN_METADATA = "anofox_no_nan"

#: The fixed driver tables' schemas, pinned as DDL so a read skips the
#: parquet footer inference (one Spark job and ~0.1 s per read). They equal
#: the inferred schemas of every testdata scale and of the benchmark's
#: generator (tests/test_sources.py). ``ts`` is stored as INT64
#: TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
#: ``timestamp_ntz``.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One of the fixed driver tables, read with its pinned schema.

    A user-given schema is not checked against the file: a column the
    file lacks reads as silent NULLs, and a column stored with another
    type fails only when a task reads it (an ``events.ts`` written as
    TIMESTAMP(NANOS) fails with a data-type mismatch instead of reading
    wrong values). That is why this reader serves only the fixed tables
    of :data:`SCHEMAS`; read other parquet with ``spark.read.parquet``."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def lineitem_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-series daily panel: (id=l_suppkey, ds=day(l_shipdate), y=sum qty).

    The aggregate's exchange is keyed on hash(id) ALONE (r13, guide §2.4
    "two operations keyed the same way can share one exchange"):
    HashPartitioning(id) satisfies the (id, ds) grouping's clustered
    distribution, and every downstream per-series stage groups/windows
    by id — at cluster scale (where the partition floor does not insert
    an explicit repartition) the id-keyed fold aggregates run with NO
    second exchange, and at bench scale the aggregation work moves off
    the narrow file-scan stage onto the full shuffle width (measured
    -33% on the SQL-path forecast keys). Value identity does NOT rest on
    float luck: l_quantity is integer-valued (TPC-H quantities 1..50),
    so every per-group sum is exact in ANY accumulation order — the same
    property the DuckDB-oracle hash match has always relied on. The
    orders panel keeps the default keying (o_totalprice is fractional;
    its sum order is observable at the last ulp)."""
    li = load_table(spark, sf_dir, "lineitem")
    # sum over a non-empty group is never NULL; the coalesce is a no-op at
    # runtime but marks y non-nullable in the schema, and the nanvl step
    # maps a (never-occurring) NaN sum to NULL -> 0.0, making the attached
    # no-NaN witness true BY CONSTRUCTION — together they let
    # interpolate_nulls_df skip its null-repair window passes entirely
    # under BOTH missing-value semantics (see NO_NAN_METADATA)
    y = F.expr("coalesce(nanvl(sum(l_quantity), CAST(NULL AS DOUBLE)), 0.0D)")
    return (li.selectExpr("l_suppkey AS id",
                          "date_trunc('day', l_shipdate) AS ds", "l_quantity")
              .repartition("id")
              .groupBy("id", "ds")
              .agg(y.alias("y", metadata={NO_NAN_METADATA: True})))


def orders_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse intermittent-like panel: (o_custkey, day(o_orderdate), sum price)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.selectExpr("o_custkey AS id",
                         "date_trunc('day', o_orderdate) AS ds",
                         "o_totalprice")
             .groupBy("id", "ds")
             .agg(F.expr("sum(o_totalprice) AS y")))


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table; ``ts`` is a microsecond ``timestamp_ntz``."""
    return load_table(spark, sf_dir, "events")


def events_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular panel: (user_id, day(ts), count(*))."""
    e = load_table(spark, sf_dir, "events")
    return (e.selectExpr("user_id AS id", "date_trunc('day', ts) AS ds")
             # hash(id)-keyed exchange shared with the per-series stages
             # (see lineitem_panel); counts are exact integers, order-free
             .repartition("id")
             .groupBy("id", "ds")
             .agg(F.expr("CAST(count(1) AS DOUBLE) AS y")))


# DuckDB-SQL equivalents of the panel derivations, for oracle queries.
LINEITEM_PANEL_SQL = (
    "SELECT l_suppkey AS id, date_trunc('day', l_shipdate) AS ds, "
    "SUM(l_quantity) AS y FROM lineitem GROUP BY 1, 2"
)
ORDERS_PANEL_SQL = (
    "SELECT o_custkey AS id, date_trunc('day', o_orderdate) AS ds, "
    "SUM(o_totalprice) AS y FROM orders GROUP BY 1, 2"
)
EVENTS_PANEL_SQL = (
    "SELECT user_id AS id, date_trunc('day', ts) AS ds, "
    "CAST(COUNT(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2"
)
