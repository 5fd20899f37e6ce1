"""Keying, windows and aggregations W1–W5 (SURVEY.md §2.5).

All native DataFrame/SQL — these are the most Catalyst-friendly operators in
the inventory: partial (map-side) aggregation, AQE partition coalescing and
whole-stage codegen all apply. At 100 TB each of these is one shuffle on its
grouping key, nothing more.

References:
- W2 tumbling event-time window + reduce: Chapter03_Windowing.java:125-139
  (100 ms windows; sum invested, keep FIRST txnId by time).
- W3 running (per-event cumulative) keyed sum: SharePriceDataflow.java:121-122
  (`keyBy(0).sum(1)` emits the running total on every element).
- W5 dashboard aggregations: kibana-dashboard.json (avg coins per 1-minute
  date_histogram; sum fedMonkeys per team/trader; top-5 traders desc;
  sum bailouts per team+trader).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import cache
from .blocks import with_block_id


def window_sum_first(df: DataFrame, time_col: str, key: str, value: str,
                     first_col: str, window_len: str,
                     watermark: str | None = None) -> DataFrame:
    """W2 exactly as kata 03 uses it: per-key tumbling sum of ``value``
    keeping the txnId of the EARLIEST element in the window
    (Chapter03:131-139 — the reduce keeps the first-seen txnId; with
    event-time ordering that is min_by time)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(F.window(time_col, window_len).alias("_w"), key)
        .agg(
            F.sum(value).alias(f"sum_{value}"),
            F.min_by(first_col, time_col).alias(f"first_{first_col}"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            F.col(key),
            F.col(f"sum_{value}"),
            F.col(f"first_{first_col}"),
        )
    )


def running_sum(df: DataFrame, key_cols: list[str], order_cols: list[str],
                value: str, out: str = "running_sum") -> DataFrame:
    """W3 — per-key running cumulative sum, emitted on every element
    (SharePriceDataflow.java:121-122 ``keyBy(0).sum(1)``).

    Batch shape: an analytic window with an unbounded-preceding frame —
    one shuffle on the key, sequential scan within key, no O(n²).
    ``order_cols`` must be a deterministic total order (include a tiebreak
    id column after the timestamp). The per-event streaming twin lives in
    ``streaming/stateful.py`` with O(1) state.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(value).over(w))


# ---------------------------------------------------------------------------
# W5 — the dashboard aggregations (kibana-dashboard.json). Each mirrors one
# Kibana visState over the ES-indexed trader-states / share-price docs.
# ---------------------------------------------------------------------------

def top_k(df: DataFrame, key: str, value: str, k: int = 5) -> DataFrame:
    """W5c — top-k keys by sum(value) desc ("terms trader size 5 order
    desc"). Ties broken by key asc so the result set is deterministic."""
    return (
        df.groupBy(key)
        .agg(F.sum(value).alias(f"sum_{value}"))
        .orderBy(F.col(f"sum_{value}").desc(), F.col(key).asc())
        .limit(k)
    )


def running_sum_scalable(df: DataFrame, key_cols: list[str],
                         order_cols: list[str], value: str,
                         out: str = "running_sum",
                         partitions: int | None = None) -> DataFrame:
    """W3 at 100 TB — the scalable prefix sum. A plain analytic window
    with few (or constant, P11 "FOO") keys funnels the whole stream into
    one partition; this classic two-phase plan doesn't:

    1. block by (keys, order) — deterministic equal-width buckets over
       the leading order column (operators/blocks.py), globally ordered
       across block ids, parallel within;
    2. per-partition local cumsum (parallel analytic window over
       (keys, _pid));
    3. block totals = last local cumsum per (keys, _pid) — a tiny
       table (#partitions rows) whose per-key cumulative offsets cost
       one trivially small window;
    4. broadcast the offsets back and add.

    The only sequential step is over #partitions rows, not #rows.
    Exact for integer/cents accumulators (addition is associative);
    for floats the addition order differs from the sequential fold by
    design — callers needing bit-stable float order keep the
    single-partition form and its scale limits.
    """
    n = partitions or max(
        df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    # Block id is a DETERMINISTIC function of the row (blocks.py): a
    # repartitionByRange + spark_partition_id() id is re-sampled per
    # consumer when the frame isn't materialized, so the block totals
    # could be keyed to different blocks than the local cumsums. With a
    # pure-function id the two subplans agree whether or not the persist
    # below kicks in; maybe_persist is a pure PERF choice (pay the
    # shuffle once when the frame is big, see cache.py). Internal keys
    # go through `_jk = struct(*key_cols)` so NULL keys group exactly
    # like the window's partitionBy instead of being dropped by the
    # stitch join.
    parts = cache.maybe_persist(
        with_block_id(df, key_cols, order_cols[0], n))
    wloc = (
        Window.partitionBy("_jk", "_pid").orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.withColumn("_local", F.sum(value).over(wloc))
    # block total = plain SUM over the block (== the last local cumsum;
    # exact for the integer/cents accumulators this plan is exact for) —
    # a direct aggregate over parts with map-side partial combining, no
    # second window pass
    totals = parts.groupBy("_jk", "_pid").agg(
        F.sum(value).alias("_tot"))
    woff = (
        Window.partitionBy("_jk").orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_jk", "_pid",
        F.coalesce(F.sum("_tot").over(woff), F.lit(0)).alias("_off"))
    return (
        local.join(F.broadcast(offsets), ["_jk", "_pid"])
        .withColumn(out, F.col("_local") + F.col("_off"))
        .drop("_jk", "_pid", "_local", "_off")
    )
