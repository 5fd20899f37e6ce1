"""Run-lifecycle hygiene of the live registry entries.

Every streaming entry goes through one lifecycle in driver_queries:
temp dirs under one per-process scratch root (removed at exit),
checkpoints deleted as soon as their query drains, the state-store
partition count pinned only around ``.start()`` and restored even when
it raises, and memory-sink views dropped at the next entry boundary.
The session here runs at 5 shuffle partitions, not the streaming 8, so
a leaked pin shows.
"""

import os
import subprocess
import sys
import tempfile

import pytest

from mktd6_flink_spark.plans import driver_queries as dq
from test_loader import REAL_SF as SF
from test_loader import needs_testdata

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture
def five_parts_tmpdir(spark, monkeypatch, tmp_path):
    tmpdir = tmp_path / "tmpdir"
    tmpdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))
    monkeypatch.setattr(dq, "_SCRATCH_ROOT", None)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    yield str(tmpdir)
    spark.conf.set("spark.sql.shuffle.partitions", old)


@needs_testdata
def test_entries_leave_no_leaks(spark, five_parts_tmpdir):
    # memory sink, spill sink, topic + memory sink, topic chain
    entries = ["streaming_st1_ema", "streaming_ivf_assign",
               "streaming_holt_linear", "streaming_khop_reach"]
    made = {}
    prev_sink_views = set()
    for name in entries:
        views_before = _temp_views(spark)
        assert dq.QUERIES[name](spark, SF).count() > 0, name
        views_after = _temp_views(spark)
        assert not prev_sink_views & views_after, (
            f"{name}: previous entry's memory-sink views survived")
        prev_sink_views = made[name] = views_after - views_before
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5", name
        assert os.listdir(five_parts_tmpdir) == [
            os.path.basename(dq._SCRATCH_ROOT)], name
        left = [d for d in os.listdir(dq._SCRATCH_ROOT) if "_ckpt_" in d]
        assert not left, f"{name}: checkpoints left after drain: {left}"
    # the view checks above had something to check
    assert made["streaming_st1_ema"] and made["streaming_holt_linear"]


@needs_testdata
def test_partition_pin_restored_when_start_raises(spark, five_parts_tmpdir):
    # a streaming aggregation cannot run in append mode without a
    # watermark: .start() raises
    agg = dq._events_stream(spark, SF).groupBy("event_type").count()
    with pytest.raises(Exception, match="(?i)append"):
        dq._run_stream_to_table(spark, agg, "bad_mode")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"


@needs_testdata
def test_process_exit_removes_scratch_root(tmp_path):
    """A fresh process that runs a streaming entry and exits leaves its
    TMPDIR as it found it."""
    tmpdir = tmp_path / "tmpdir"
    tmpdir.mkdir()
    script = (
        "from mktd6_flink_spark.session import get_spark\n"
        "from mktd6_flink_spark.plans import driver_queries as dq\n"
        "import os, sys\n"
        "spark = get_spark('hygiene')\n"
        "n = dq.QUERIES['streaming_w3_running_sum'](spark, sys.argv[1])"
        ".count()\n"
        "assert n > 0 and os.listdir(sys.argv[2])\n"
        "spark.stop()\n")
    pythonpath = [REPO] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    env = dict(os.environ, TMPDIR=str(tmpdir),
               PYTHONPATH=os.pathsep.join(pythonpath))
    subprocess.run([sys.executable, "-c", script, SF, str(tmpdir)],
                   check=True, env=env, cwd=REPO, timeout=600)
    assert os.listdir(tmpdir) == []
