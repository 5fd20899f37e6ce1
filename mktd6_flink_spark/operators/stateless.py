"""Stateless row operators P1–P19 (SURVEY.md §2.3) as native Column
expressions — no Python UDFs, so Catalyst keeps predicate pushdown, column
pruning and whole-stage codegen on every one of them.

Each builder cites the reference implementation it matches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Sentiment vocabularies (Chapter01_FilteringAndSentiment.java:175-182).
POS_WORDS = ("smile", "happy", "good", "yes")
NEG_WORDS = ("frown", "sad", "bad", "no")

# Hype vocabularies — exact lists from ShareHypePiece.java:24-31.
HYPE_POSITIVE = (
    "yes", "happy", "good", "best", "up", "safe",
    "buy", "like", "love", "high", "nice", "certain", "sure", "solid",
)
HYPE_NEGATIVE = (
    "no", "sad", "bad", "worst", "down", "dangerous", "danger",
    "sell", "dislike", "hate", "low", "bubble", "burst", "risk",
)


def buy_sell_decision(forecast_mult: Column) -> Column:
    """P1 — `mult > 1 ? BUY : SELL` (Chapter00:119-125)."""
    return F.when(forecast_mult > 1.0, F.lit("BUY")).otherwise(F.lit("SELL"))


def contains_all(text: Column, *needles: str) -> Column:
    """P2 — conjunctive substring containment (Chapter01:140-147)."""
    cond = F.lit(True)
    for n in needles:
        cond = cond & text.contains(n)
    return cond


def sentiment(text: Column, pos=POS_WORDS, neg=NEG_WORDS) -> Column:
    """P3 — word-boundary regex sentiment classification (Chapter01:149-154,
    175-182): POS if any positive word matches, else NEG, else NEUTRAL.

    Case-SENSITIVE, matching the reference's
    ``text.matches(".*\\b(smile|happy|good|yes)\\b.*")`` exactly
    (Chapter01_LinearStatelessAnalysis.java:177-180).
    """
    pos_re = r".*\b(" + "|".join(pos) + r")\b.*"
    neg_re = r".*\b(" + "|".join(neg) + r")\b.*"
    return (
        F.when(text.rlike(pos_re), F.lit("POS"))
        .when(text.rlike(neg_re), F.lit("NEG"))
        .otherwise(F.lit("NEUTRAL"))
    )


def non_neutral(sent: Column) -> Column:
    """P4 — drop NEUTRAL sentiment (Chapter01:156-161)."""
    return sent != "NEUTRAL"


def explode_influencing_chars(df: DataFrame, text: str, sent: str) -> DataFrame:
    """P5 — one UP/DOWN row per '!' char in the text (Chapter01:163-170,
    184-192): POS + '!' -> UP, NEG + '!' -> DOWN."""
    bangs = F.filter(F.split(F.col(text), ""), lambda c: c == "!")
    return (
        df.withColumn("_bang", F.explode(bangs))
        .withColumn(
            "influence",
            F.when(F.col(sent) == "POS", F.lit("UP")).otherwise(F.lit("DOWN")),
        )
        .drop("_bang")
    )


# P6 — text -> MarketOrder parse. Exact pattern from
# Chapter02_SplitSelectUnion.java:237:
#   (?i)^(?<time>[a-z0-9]+) (?<player>[a-z0-9]+) (?<id>[a-z0-9]+)
#       (?<type>BUY|SELL) (?<shares>[0-9]+)$
# The reference wraps parsing in try/catch Either semantics
# (Chapter02:239-260): a row matching the regex can STILL land in the
# invalid branch when Long.parseLong(time) or Integer.parseInt(shares)
# throws (e.g. "12a trader id BUY 5" matches `[a-z0-9]+` but is not a
# number; shares > 2^31-1 overflows). We mirror that with try_cast.
ORDER_RE = r"(?i)^([a-z0-9]+) ([a-z0-9]+) ([a-z0-9]+) (BUY|SELL) ([0-9]+)$"


def parse_market_order(text: Column) -> Column:
    """Returns a struct column, null when the row doesn't parse (the Left /
    invalid branch of Chapter02's Either — regex miss OR numeric-parse
    failure, matching parseOrder's try/catch at Chapter02:239-260).

    The (?i) regex matches lowercase order types, but the reference then
    calls the case-sensitive ``MarketOrderType.valueOf(type)``
    (Chapter02:241) which throws inside the try/catch for anything but
    exactly 'BUY'/'SELL' — so mixed-case types route to the invalid
    branch, reproduced here by the case-sensitive ``isin`` guard."""
    time_ms = F.regexp_extract(text, ORDER_RE, 1).try_cast("long")
    shares = F.regexp_extract(text, ORDER_RE, 5).try_cast("int")
    otype = F.regexp_extract(text, ORDER_RE, 4)
    return F.when(
        text.rlike(ORDER_RE) & time_ms.isNotNull() & shares.isNotNull()
        & otype.isin("BUY", "SELL"),
        F.struct(
            time_ms.alias("time_ms"),
            F.regexp_extract(text, ORDER_RE, 2).alias("player"),
            F.regexp_extract(text, ORDER_RE, 3).alias("txnId"),
            otype.alias("type"),
            shares.alias("shares"),
        ),
    )


def order_size_guard(shares: Column, max_shares: int = 1000) -> Column:
    """P7 — drop orders with shares > 1000 (Chapter02:262-270)."""
    return shares <= max_shares


def banana_filter(text: Column) -> Column:
    """P8 — text contains "banana" (SharePriceDataflow.java:145-150)."""
    return text.contains("banana")


def hype_words(df: DataFrame, text: str = "text") -> DataFrame:
    """P9 — gibb -> hype pieces (SharePriceDataflow.java:152-160,
    ShareHypePiece.java:61-84): lowercase, strip non-letters, split on
    whitespace, keep vocabulary words, emit one row per hit with positive flag.
    """
    cleaned = F.regexp_replace(F.lower(F.col(text)), r"[^a-z \n]+", "")
    word = F.explode(F.split(cleaned, r"\s+")).alias("word")
    out = df.withColumn("word", word)
    return out.withColumn(
        "positive",
        F.when(F.col("word").isin(*HYPE_POSITIVE), F.lit(True))
        .when(F.col("word").isin(*HYPE_NEGATIVE), F.lit(False)),
    ).filter(F.col("positive").isNotNull())


def scaled_influence(positive: Column, scale: float = 0.01) -> Column:
    """P10 — hype piece -> ±1 * 0.01 influence (SharePriceDataflow.java:162-167)."""
    return F.when(positive, F.lit(1.0)).otherwise(F.lit(-1.0)) * F.lit(scale)


def constant_key(value: str = "FOO") -> Column:
    """P11 — re-key to a constant = single global partition
    (SharePriceDataflow.java:137-143). At scale this is a deliberate
    1-partition hotspot; callers that don't need total order should salt."""
    return F.lit(value)


def updater_from_market_order(order_type: Column, shares: Column, price: Column):
    """P12a — MarketOrder -> TraderStateUpdater deltas
    (TraderStateUpdater.java:141-151; sign logic MarketOrderType.java:14-21):
    BUY: coins -= shares*price, shares += n; SELL: coins += shares*price,
    shares -= n.  Returns (coinsDiff, sharesDiff) columns."""
    sign = F.when(order_type == "BUY", F.lit(1)).otherwise(F.lit(-1))
    coins_diff = -sign.cast("double") * shares.cast("double") * price
    shares_diff = sign * shares
    return coins_diff, shares_diff


def updater_from_investment(invested: Column):
    """P12b — Investment -> deltas (TraderStateUpdater.java:153-162):
    coinsDiff = -invested, investDiff = +1.
    Returns (coinsDiff, sharesDiff, fedMonkeys, investDiff) columns."""
    return (-invested.cast("double"), F.lit(0), F.lit(0), F.lit(1))


def updater_from_feed_monkeys(monkeys: Column):
    """P12c — FeedMonkeys -> deltas (TraderStateUpdater.java:164-172):
    sharesDiff = -monkeys, fedMonkeys = +monkeys (feeding costs shares).
    Returns (coinsDiff, sharesDiff, fedMonkeys, investDiff) columns."""
    return (F.lit(0.0), -monkeys.cast("int"), monkeys.cast("int"), F.lit(0))


def project_txn_result(txn_event: Column) -> Column:
    """P13 — TxnEvent -> nested TxnResult projection
    (MarketDataflow.java:394-399)."""
    return txn_event["txnResult"]


def txn_result_coins(txn_result: Column) -> Column:
    """P15 — TxnResult -> state.coins projection
    (MonkeyStockTrader.java:285-291)."""
    return txn_result["state"]["coins"]


def self_trades(team: Column, name: Column, my_team: str, my_name: str) -> Column:
    """P16 — keep only records keyed by a literal trader
    (MonkeyStockChampion.java:136-142)."""
    return (team == F.lit(my_team)) & (name == F.lit(my_name))


def extract_tweet(json_col: Column) -> Column:
    """P19 — tweet JSON field extraction (Gibber.java:118-145): pull
    id_str/text, require both present, keep rows matching (?i).*banana.*.
    Returns a struct(id, text) column, null for non-matching rows."""
    parsed = F.from_json(json_col, "id_str string, text string")
    ok = (
        parsed["id_str"].isNotNull()
        & parsed["text"].isNotNull()
        & parsed["text"].rlike("(?i).*banana.*")
    )
    return F.when(ok, F.struct(parsed["id_str"].alias("id"),
                               parsed["text"].alias("text")))


def accepted_only(status: Column) -> Column:
    """P14 — status == ACCEPTED (MarketDataflow.java:185-188)."""
    return status == "ACCEPTED"


def positive_balance(coins: Column) -> Column:
    """P17 — coins > 0 guard (MonkeyStockTrader.java:293-298)."""
    return coins > 0


def log_passthrough(df: DataFrame, name: str = "p18") -> DataFrame:
    """P18 — logging pass-through (Gibber.java:91-96,
    MonkeyStockChampion.java:109-115). Per-row side-effect logging is an
    anti-pattern on a distributed engine; the idiomatic Spark equivalent
    is an observable metric on the pass-through: row counts surface in
    QueryProgress / listener events without touching the data path."""
    return df.observe(name, F.count(F.lit(1)).alias("rows"))
