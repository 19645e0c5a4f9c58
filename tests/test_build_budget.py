"""Driver-side build cost of the benchmark's mix keys.

A builder only assembles a plan, so its cost is the py4j round trips it
makes to the JVM and any Spark job it starts. Every Column-DSL call is at
least one round trip (``F.col`` costs ~13 with PySpark's call-site
capture), while a ``selectExpr``/``F.expr`` string costs one or three; the
builders write their expressions as SQL text and read the fixed tables
with pinned schemas, so building a plan starts no schema-inference job.

For each of the 18 keys of ``perfbench/workloads.py::MIX_KEYS`` this test
counts the round trips the calling thread sends while the builder runs
(py4j's finalizer thread sends the deletes of garbage-collected JVM
handles on its own connection; those are not counted) and the Spark jobs
started in that time. ``similarity_topk`` collects its query vector with
``.first()`` as part of the key's contract: one job.
"""

from __future__ import annotations

import threading

import pytest
from py4j import clientserver

import __spark_entry__ as entry

from tests.conftest import SF_DIR

#: key -> (round trips before the SQL-text builders, after, budget).
#: Counted at sf0.001, keys built in this order in one session; "before"
#: is the Column-DSL builders with footer-inferred reads.
BUDGET = {
    "forecast_naive": (274, 172, 215),
    "metric_mae": (398, 123, 155),
    "prep_fill_gaps": (675, 93, 120),
    "hier_aggregate": (530, 105, 135),
    "cv_folds": (711, 117, 150),
    "conformal_by": (973, 130, 165),
    "text_quality": (818, 58, 75),
    "dedup_exact_groups": (153, 53, 70),
    "dedup_minhash_lsh": (4098, 154, 195),
    "similarity_topk": (644, 73, 95),
    "search_bm25": (1367, 83, 105),
    "events_sessionize": (239, 31, 40),
    "pipeline_dup_spans": (848, 117, 150),
    "stats_hll_distinct_raw": (860, 105, 135),
    "pipeline_lm_score": (1766, 224, 280),
    "text_pii_redact": (543, 73, 95),
    "prep_scale_robust": (1111, 137, 175),
    "pipeline_dsir_weights": (2439, 254, 320),
}

#: the mix-wide ceiling: under a third of the ~18,400 round trips the
#: Column-DSL builders made (~22,000 with the finalizer deletes)
TOTAL_BUDGET = 6000

EXPECTED_JOBS = {"similarity_topk": 1}


@pytest.fixture(scope="module")
def build_costs(spark):
    sent = [0]
    caller = threading.get_ident()
    orig = clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == caller:
            sent[0] += 1
        return orig(self, command)

    queries = entry.queries()
    tracker = spark.sparkContext.statusTracker()
    costs = {}
    clientserver.ClientServerConnection.send_command = counting
    try:
        for key in BUDGET:
            before = set(tracker.getJobIdsForGroup(None))
            sent[0] = 0
            queries[key](spark, SF_DIR)
            trips = sent[0]
            jobs = set(tracker.getJobIdsForGroup(None)) - before
            costs[key] = (trips, len(jobs))
    finally:
        clientserver.ClientServerConnection.send_command = orig
    return costs


@pytest.mark.parametrize("key", list(BUDGET))
def test_builder_round_trip_budget(build_costs, key):
    trips, _ = build_costs[key]
    assert trips <= BUDGET[key][2], \
        f"{key}: {trips} py4j round trips, budget {BUDGET[key][2]}"


@pytest.mark.parametrize("key", list(BUDGET))
def test_builder_starts_no_job(build_costs, key):
    _, jobs = build_costs[key]
    assert jobs == EXPECTED_JOBS.get(key, 0), \
        f"{key}: the builder started {jobs} Spark job(s)"


def test_mix_round_trip_total(build_costs):
    total = sum(t for t, _ in build_costs.values())
    assert total <= TOTAL_BUDGET, f"{total} round trips over the mix"
    assert sum(b[2] for b in BUDGET.values()) <= TOTAL_BUDGET
