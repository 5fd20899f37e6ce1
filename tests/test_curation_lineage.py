"""Filter-funnel lineage for the curation pipeline (round-7 verdict #7):
``curation_with_lineage`` must report, via observable metrics on the
unchanged data path, how many documents survive each stage — so a
100 TB run can audit its own funnel from QueryProgress events instead
of paying three extra count() scans.
"""

import os

import pytest

from mktd6_flink_spark.plans import driver_queries as dq

REAL_SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(REAL_SF),
    reason="driver testdata not present on this machine")


@needs_testdata
def test_curation_lineage_funnel(spark):
    result, obs = dq.curation_with_lineage(spark, REAL_SF)
    rows = result.collect()  # one action fills every observation

    n_input = obs["input"].get["rows"]
    n_dedup = obs["deduped"].get["rows"]
    n_final = obs["final"].get["rows"]

    # the corpus is documents + 50 planted near-dup mutations
    n_docs = dq.load(spark, REAL_SF, "documents").count()
    assert n_input == n_docs + 50

    # funnel: each stage can only drop rows, and every planted
    # mutation's cluster collapses to one representative so dedup
    # MUST drop at least the 50 planted copies
    assert n_input - n_dedup >= 50
    assert 0 < n_final <= n_dedup <= n_input

    # the final observation is the result itself — no skew between
    # the metric channel and the data channel
    assert n_final == len(rows)

    # and the registered gate entry is the same plan minus the audit
    gate_rows = dq.QUERIES["pipeline_curation"](spark, REAL_SF).count()
    assert gate_rows == n_final


@needs_testdata
def test_curation_gate_failure_raises(spark, monkeypatch):
    """The quality and lang-id gates materialize on a side thread that
    overlaps the CC ladder. A failure there must raise from the entry
    call itself once the overlap ends, not only print to stderr and
    leave a lazy frame that fails later (or never, if unread)."""
    from pyspark.sql import functions as F

    from mktd6_flink_spark.functions import text as tx
    from mktd6_flink_spark.operators import cache

    def failing_quality(df, *args, **kwargs):
        return df.select(
            "doc_id",
            F.raise_error(F.lit("forced gate failure")).alias(
                "quality_score"))

    monkeypatch.setattr(tx, "quality_stats", failing_quality)
    try:
        with pytest.raises(Exception, match="forced gate failure"):
            dq.QUERIES["pipeline_curation"](spark, REAL_SF)
    finally:
        cache.release_twophase_caches()
