"""Schema registry + JSON codecs — the Spark equivalent of the reference's
``TopicDef`` (mktd6-flink: monkey-stock-model/.../topic/TopicDef.java:16-96)
and ``BaseJsonSerde`` (serde/kafka/BaseJsonSerde.java:20-54).

Every reference topic is a (key schema, value schema) pair of fixed,
code-declared JSON shapes.  Here each becomes a ``TopicDef`` with Spark
``StructType``s plus ``from_json``/``to_json`` codec helpers.  Like the
reference serde, ``from_json`` ignores unknown fields and yields nulls on
corrupt payloads; timestamps are serialized as ISO-8601 strings, not epochs
(BaseJsonSerde.java:20-24).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ISO-8601 with millisecond precision, UTC — the serde's date format
# (BaseJsonSerde.java:20-22 disables WRITE_DATES_AS_TIMESTAMPS).
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

# ---------------------------------------------------------------------------
# Enumerations (reference: Team.java:3-11, MarketOrderType.java:3-22,
# TxnResultType.java:3-9, TraderStateUpdater.java:20-26, BurstStep.java:9-21)
# — kept as validated strings; strings are idiomatic Spark.
# ---------------------------------------------------------------------------
TEAMS = ("ALOUATE", "BONOBO", "CAPUCIN", "DRILL", "SAGOUIN")
MARKET_ORDER_TYPES = ("BUY", "SELL")
TXN_RESULT_TYPES = ("ACCEPTED", "INSUFFICIENT_COINS", "INSUFFICIENT_SHARES")
UPDATER_TYPES = ("MARKET", "INVEST", "FEED", "BAILOUT", "RETURN")
BURST_STEPS = tuple(f"STEP{i}" for i in range(1, 11))
SENTIMENTS = ("POS", "NEG", "NEUTRAL")
PRICE_INFLUENCE = ("UP", "DOWN")


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable=True) for n, t in fields])


# Composite Kafka key Trader{team,name} (Trader.java:9-18)
TRADER_KEY = _s(("team", StringType()), ("name", StringType()))
STRING_KEY = _s(("key", StringType()))

MARKET_ORDER = _s(
    ("time", TimestampType()),
    ("txnId", StringType()),
    ("type", StringType()),  # BUY | SELL
    ("shares", IntegerType()),  # > 0 (MarketOrder.java:19-21)
)
INVESTMENT = _s(
    ("time", TimestampType()),
    ("txnId", StringType()),
    ("invested", DoubleType()),  # > 0 (Investment.java:15-17)
)
FEED_MONKEYS = _s(
    ("time", TimestampType()),
    ("txnId", StringType()),
    ("monkeys", IntegerType()),  # >= 1 (FeedMonkeys.java:17-19)
)
TRADER_STATE = _s(
    ("time", TimestampType()),
    ("coins", DoubleType()),
    ("shares", IntegerType()),
    ("bailouts", IntegerType()),
    ("fedMonkeys", IntegerType()),
    ("inFlightInvestments", IntegerType()),
)
TXN_RESULT = _s(
    ("txnId", StringType()),
    ("type", StringType()),  # UPDATER_TYPES
    ("state", TRADER_STATE),
    ("status", StringType()),  # TXN_RESULT_TYPES
)
TXN_EVENT = _s(
    ("txnResult", TXN_RESULT),
    ("investedCoins", DoubleType()),
    ("totalInvestments", DoubleType()),
)
SHARE_PRICE_MULT = _s(("time", TimestampType()), ("mult", DoubleType()))
# forecast serialized as a bare double via @JsonValue
# (SharePriceSimpleForecast.java:25-38) — modeled as field `forecastMult`.
SHARE_PRICE_INFO = _s(
    ("time", TimestampType()),
    ("coins", DoubleType()),
    ("forecastMult", DoubleType()),
)
GIBB = _s(("id", StringType()), ("time", TimestampType()), ("text", StringType()))
SHARE_HYPE_PIECE = _s(
    ("time", TimestampType()),
    ("gibbId", StringType()),
    ("positive", BooleanType()),
    ("word", StringType()),
)
TRADER_STATE_UPDATER = _s(
    ("txnId", StringType()),
    ("type", StringType()),  # UPDATER_TYPES
    ("time", TimestampType()),
    ("coinsDiff", DoubleType()),
    ("sharesDiff", IntegerType()),
    ("addBailout", BooleanType()),
    ("fedMonkeys", IntegerType()),
    ("investDiff", IntegerType()),
)


@dataclass(frozen=True)
class TopicDef:
    """One Kafka topic: name + key/value StructTypes.

    Reference: TopicDef.java:16-96 binds topic name -> (K,V) serde types.
    """

    name: str
    key_schema: StructType
    value_schema: StructType

    @property
    def scalar_key(self) -> bool:
        """True for topics whose Kafka key is a bare JSON string (the
        reference's ``JsonSerde.StringSerde`` — e.g. ``"FOO"`` — not an
        object). All String-keyed topics in TopicDef.java:42-56 are like
        this; only the ``Trader{team,name}`` key is a composite object."""
        return self.key_schema is STRING_KEY

    def decode(self, raw: DataFrame) -> DataFrame:
        """Kafka wire frame -> typed columns.

        ``raw`` must have binary/str ``key`` and ``value`` columns (the shape
        of ``spark.readStream.format("kafka")``).  Unknown JSON fields are
        ignored.

        Divergence note (deliberate): corrupt payloads decode to null via
        Spark's PERMISSIVE ``from_json``, while the reference serde throws
        SerializationException on malformed bytes (BaseJsonSerde.java:35-54,
        null only for empty input). We prefer drop-with-null over job-crash
        at 100 TB; callers needing the strict behavior can assert
        ``v IS NOT NULL``.
        """
        key_str = F.col("key").cast("string")
        if self.scalar_key:
            # Bare JSON string key: the wire bytes are `"FOO"`. from_json
            # only takes struct/array/map schemas, so wrap the scalar in
            # an object and unwrap — JSON escapes handled correctly.
            k = F.from_json(
                F.concat(F.lit('{"k":'), key_str, F.lit("}")), "k string"
            )["k"].alias("k")
            key_cols = [F.col("k").alias("key")]
        else:
            k = F.from_json(key_str, self.key_schema).alias("k")
            key_cols = [F.col("k.*")]
        return raw.select(
            k,
            F.from_json(F.col("value").cast("string"), self.value_schema).alias("v"),
        ).select(*key_cols, "v.*")

    def encode(self, df: DataFrame) -> DataFrame:
        """Typed columns -> Kafka wire frame (JSON key/value strings).

        Scalar string keys serialize as a bare JSON string (`"FOO"`), matching
        JsonSerde.StringSerde; composite keys as a JSON object.
        """
        vcols = [f.name for f in self.value_schema.fields]
        if self.scalar_key:
            key_json = F.to_json(F.struct(F.col("key").alias("k")))
            # to_json has no scalar form; emit {"k":"FOO"} then strip the
            # wrapper to get the bare JSON string `"FOO"`.
            key_json = F.regexp_extract(key_json, r'^\{"k":(.*)\}$', 1)
        else:
            kcols = [f.name for f in self.key_schema.fields]
            key_json = F.to_json(F.struct(*kcols), {"timestampFormat": ISO_FMT})
        return df.select(
            key_json.alias("key"),
            F.to_json(F.struct(*vcols), {"timestampFormat": ISO_FMT}).alias("value"),
        )


# The topic registry (TopicDef.java:20-56 + ServerTopics.java:10-31).
TOPICS: dict[str, TopicDef] = {
    t.name: t
    for t in [
        TopicDef("market-orders", TRADER_KEY, MARKET_ORDER),
        TopicDef("investment-orders", TRADER_KEY, INVESTMENT),
        TopicDef("feed-monkeys", TRADER_KEY, FEED_MONKEYS),
        TopicDef("txn-results", TRADER_KEY, TXN_RESULT),
        TopicDef("share-price-outside-evolution-meter", STRING_KEY, SHARE_PRICE_MULT),
        TopicDef("share-price", STRING_KEY, SHARE_PRICE_INFO),
        TopicDef("gibber-gibbs", STRING_KEY, GIBB),
        TopicDef("share-hype", STRING_KEY, SHARE_HYPE_PIECE),
        TopicDef("trader-state-updates", TRADER_KEY, TRADER_STATE_UPDATER),
        TopicDef("trader-states", TRADER_KEY, TRADER_STATE),
        TopicDef("investment-txn-events", TRADER_KEY, TXN_EVENT),
    ]
}

# Initial trader state: 10 coins, 5 shares (TraderState.java:76-83).
INITIAL_TRADER_STATE = {
    "coins": 10.0,
    "shares": 5,
    "bailouts": 0,
    "fedMonkeys": 0,
    "inFlightInvestments": 0,
}
