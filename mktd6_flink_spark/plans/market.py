"""MarketDataflow composed end-to-end (MarketDataflow.java:57-183,
SURVEY.md §3.3) — the settlement job.

Reference structure: stage 1 settles orders against prices (ST5) and
unions the three updater streams (market/investment/feed, P12) into the
``trader-state-updates`` topic; stage 2 reads that SAME topic back (a
deliberate Kafka-mediated feedback edge), folds per-trader state (ST6),
annotates investments (ST7), computes delayed returns (ST8) which feed
BACK into ``trader-state-updates``, and sinks txn results + accepted
states.

A single Spark query DAG cannot express the cycle — and doesn't need to:
exactly like the reference, the stages are separate streaming queries
chained through the topic. ``FileTopic`` is the broker-less stand-in
(swap for streaming/sources.kafka_source/kafka_sink in production); the
feedback works because the stage-2 reader picks up files appended by the
ST8 writer on its next trigger.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import stateless
from ..streaming import stateful

UPDATER_SCHEMA = ("trader string, seq long, txnId string, type string, "
                  "coinsDiff double, sharesDiff int, addBailout boolean, "
                  "fedMonkeys int, investDiff int")

TXN_RESULT_SCHEMA = ("trader string, txnId string, type string, "
                     "status string, coins double, shares int, "
                     "bailouts int, fedMonkeys int, "
                     "inFlightInvestments int")


@dataclass
class FileTopic:
    """A directory-backed topic: the Kafka stand-in for chaining
    streaming queries (json files, append-only, file-source readable)."""

    path: str
    schema: str

    def read_stream(self, spark: SparkSession) -> DataFrame:
        return spark.readStream.schema(self.schema).json(self.path)

    def append_batch(self, df: DataFrame) -> None:
        # TEST-HARNESS ONLY: coalesce(1) single-threads the write so each
        # micro-batch lands as one ordered file (the embedded-Kafka
        # stand-in needs per-batch ordering). Never copy this into a real
        # sink — a production Kafka/file sink writes with full
        # parallelism and lets the keyed state impose order.
        df.coalesce(1).write.mode("append").json(self.path)

    def sink(self, df: DataFrame, checkpoint: str):
        # foreachBatch append, NOT the file sink: the file sink writes a
        # _spark_metadata log that makes downstream file SOURCES ignore
        # any file not in the log — which would hide feedback rows
        # appended by other writers (the whole point of a shared topic).
        return (
            df.writeStream.foreachBatch(
                lambda batch_df, _id: self.append_batch(batch_df))
            .option("checkpointLocation", checkpoint)
        )


def _updater(seq, txn_id, utype, coins_diff, shares_diff, fed, invest):
    return [
        F.col("trader"), seq.alias("seq"), txn_id.alias("txnId"),
        F.lit(utype).alias("type"),
        coins_diff.cast("double").alias("coinsDiff"),
        shares_diff.cast("int").alias("sharesDiff"),
        F.lit(False).alias("addBailout"),
        fed.cast("int").alias("fedMonkeys"),
        invest.cast("int").alias("investDiff"),
    ]


def stage1_updaters(orders: DataFrame, prices: DataFrame,
                    investments: DataFrame, feeds: DataFrame) -> DataFrame:
    """Stage 1 (MarketDataflow.java:99-132): ST5-settle market orders at
    the buffered/latest price, convert all three op streams to
    TraderStateUpdaters (P12), union.

    ``orders``: (trader, seq, time_ms, txnId, type BUY|SELL, shares);
    ``prices``: (seq, time_ms, price); ``investments``: (trader, seq,
    txnId, invested); ``feeds``: (trader, seq, txnId, monkeys).
    """
    tagged_orders = orders.select(
        F.lit("FOO").alias("key"), "seq", F.lit("L").alias("_side"),
        "time_ms", "txnId", "shares", F.col("type").alias("otype"),
        "trader", F.lit(None).cast("double").alias("price"))
    tagged_prices = prices.select(
        F.lit("FOO").alias("key"), "seq", F.lit("R").alias("_side"),
        "time_ms", F.lit(None).cast("string").alias("txnId"),
        F.lit(None).cast("int").alias("shares"),
        F.lit(None).cast("string").alias("otype"),
        F.lit(None).cast("string").alias("trader"), "price")

    def settle_step():
        # order_buffer_step (ST5) extended to carry (seq, otype, trader)
        # through the buffer so the updater can be built at settle time

        def step(state, row):
            price, buffered = (None, ()) if state is None else state
            if str(row["_side"]) == "R":
                price = float(row["price"])
                out = None
                if buffered:
                    flushed = sorted(buffered)
                    out = [
                        {"seq": sq, "trader": tr, "txnId": t, "otype": o,
                         "shares": s, "settle_price": price}
                        for (_, sq, t, s, o, tr) in flushed
                    ]
                    buffered = ()
                return (price, buffered), out
            item = (int(row["time_ms"]), int(row["seq"]),
                    str(row["txnId"]), int(row["shares"]),
                    str(row["otype"]), str(row["trader"]))
            if price is None:
                return (price, buffered + (item,)), None
            return (price, buffered), {
                "seq": int(row["seq"]), "trader": str(row["trader"]),
                "txnId": str(row["txnId"]), "otype": str(row["otype"]),
                "shares": int(row["shares"]), "settle_price": price,
            }
        return step

    settled = stateful.apply_per_event_stream(
        tagged_orders.unionByName(tagged_prices),
        ["key"], ["seq"], settle_step,
        "key string, seq long, trader string, txnId string, "
        "otype string, shares int, settle_price double",
        "price double, buffered string",
        # Buffered orders round-trip as JSON so txnId/trader/otype values
        # containing any delimiter character survive the state store.
        lambda s: (-1.0 if s[0] is None else float(s[0]),
                   json.dumps(list(s[1]))),
        lambda r: (None if r[0] == -1.0 else r[0],
                   tuple(tuple(it) for it in json.loads(r[1]))))

    mkt_coins, mkt_shares = stateless.updater_from_market_order(
        F.col("otype"), F.col("shares"), F.col("settle_price"))
    market_upd = settled.select(*_updater(
        F.col("seq"), F.col("txnId"), "MARKET", mkt_coins, mkt_shares,
        F.lit(0), F.lit(0)))

    inv_coins, inv_shares, inv_fed, inv_invest = (
        stateless.updater_from_investment(F.col("invested")))
    invest_upd = investments.select(*_updater(
        F.col("seq"), F.col("txnId"), "INVEST", inv_coins, inv_shares,
        inv_fed, inv_invest))

    f_coins, f_shares, f_fed, f_invest = (
        stateless.updater_from_feed_monkeys(F.col("monkeys")))
    feed_upd = feeds.select(*_updater(
        F.col("seq"), F.col("txnId"), "FEED", f_coins, f_shares, f_fed,
        f_invest))

    return market_upd.unionByName(invest_upd).unionByName(feed_upd)


def stage2_ledger(updates: DataFrame) -> DataFrame:
    """Stage 2 core (MarketDataflow.java:139-146 + 284-310): fold the
    updater stream per trader into TxnResults (ST6 with per-event
    emission)."""
    return stateful.apply_per_event_stream(
        updates, ["trader"], ["seq"], stateful.trader_ledger_step,
        TXN_RESULT_SCHEMA,
        "coins double, shares int, bailouts int, fedMonkeys int, "
        "inFlightInvestments int",
        lambda s: (float(s[0]), int(s[1]), int(s[2]), int(s[3]), int(s[4])),
        lambda r: tuple(r))


def accepted_investments(txns: DataFrame) -> DataFrame:
    """P14 filter (MarketDataflow.java:312-317): accepted INVEST txns."""
    return txns.filter(
        stateless.accepted_only(F.col("status"))
        & (F.col("type") == "INVEST"))
