"""SparkSession factory with scale-oriented defaults.

Designed for a large cluster; tested on local[32]. Every knob here is a
plain public Spark conf. AQE is on so skewed group keys (few very long
series) get split at runtime, and partition coalescing keeps small SF
runs from drowning in tiny tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "anofox-forecast-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` below every explode/posexplode; predicate
        # pushdown then re-inlines the generator's FULL child expression
        # into that (interpreted, un-CSE'd) Filter — for our computed
        # arrays (n-gram/shingle/bigram builds) that re-evaluates the
        # tokenize+transform 2x per row, and through an intermediate
        # projection it duplicated the split() ~6x (measured 6-7x
        # slowdown on the decontamination query, 20-30% on the LM
        # scorers; r13, OPTIMIZATION_r13.md). Generate already skips
        # empty/null arrays, so the rule only pre-prunes rows the
        # Generate would drop — per-row cost scales with data, so the
        # exclusion holds at cluster scale too.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # read users' TIMESTAMP(NANOS) parquet columns as long (Spark has no
        # nanos type); the driver tables store micros (sources.SCHEMAS)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
