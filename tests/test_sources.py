"""The fixed driver tables are read with pinned schemas (sources.SCHEMAS).

A user-given schema skips parquet footer inference, so it must equal what
inference would return for every input the package reads, and a file
whose physical type disagrees must fail instead of reading wrong values.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from anofox_forecast_spark.sources import SCHEMAS, TABLES, load_table
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the directory holding the sf* testdata scales
TESTDATA = os.path.dirname(SF_DIR)
SCALES = ("sf0.001", "sf0.01", "sf0.1")


def test_every_table_has_a_schema():
    assert set(SCHEMAS) == set(TABLES)


@pytest.mark.parametrize("scale", SCALES)
@pytest.mark.parametrize("table", TABLES)
def test_pinned_schema_equals_inferred(spark, scale, table):
    path = f"{TESTDATA}/{scale}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    assert load_table(spark, f"{TESTDATA}/{scale}", table).schema == \
        spark.read.parquet(path).schema


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import gen
    finally:
        sys.path.pop(0)
    out = str(tmp_path_factory.mktemp("generated"))
    gen.write_tables(gen.tpch_tables(0.001, 5), out)
    return out


@pytest.mark.parametrize("table", TABLES)
def test_pinned_schema_equals_benchmark_generator(spark, generated_dir,
                                                  table):
    path = f"{generated_dir}/{table}.parquet"
    assert load_table(spark, generated_dir, table).schema == \
        spark.read.parquet(path).schema


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_nanos_events_fail_loudly(spark, tmp_path, nanos_as_long):
    """An events file storing ts as TIMESTAMP(NANOS) does not match the
    pinned micros ``timestamp_ntz``: the read fails instead of returning
    longs or shifted timestamps, whatever nanosAsLong says."""
    src = f"{SF_DIR}/events.parquet"
    if not os.path.exists(src):
        pytest.skip(f"{src} not present")
    t = pq.read_table(src)
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, pa.field("ts", pa.timestamp("ns")),
                     t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"), version="2.6",
                   coerce_timestamps=None)
    assert "NANOS" in str(pq.ParquetFile(
        str(tmp_path / "events.parquet")).schema.column(i).logical_type).upper()
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, nanos_as_long)
    try:
        with pytest.raises(Exception, match="(?i)parquet"):
            load_table(spark, str(tmp_path), "events").select("ts").collect()
    finally:
        spark.conf.set(key, old)
