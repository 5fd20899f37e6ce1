"""SharePriceDataflow composed end-to-end
(SharePriceDataflow.java:45-135, SURVEY.md §3.2).

Reference DAG: branch A = generator → constant key → keyed multiplicative
accumulator (ST2); branch B = gibbs → banana filter → hype pieces (tee to
share-hype sink) → ×0.01 influence → keyed running sum (W3) → bubble
burst (ST3) → connect(A) → EMA+price combiner (ST4) → share-price sink.

Spark decomposition: Structured Streaming restricts chaining multiple
arbitrary stateful operators in one query, so the job is TWO queries
chained through a topic, exactly how the reference chains its jobs via
Kafka (§3.3): stage 1 runs the hype side with running-sum+burst fused
into ONE keyed state (they share the key, so fusing is a pure
optimization — one state store instead of two), stage 2 connects the
hype-diff stream with the base-price stream (tagged union) into the ST4
combiner. Use Kafka topics in production (streaming/sources.kafka_*);
the file-dir topics here are the broker-less stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import stateless
from ..streaming import stateful


def hype_pipeline_step(alpha_scale: float = 0.01):
    """Fused W3+ST3 keyed state (same key, one state store): running sum
    of scaled influences, then the bubble-burst machine on the running
    total. State: (running, prev_diff, burst_step)."""
    burst = stateful.bubble_burst_step()

    def step(state, row):
        running, inner = (0.0, None) if state is None else (
            state[0], (state[1], state[2]))
        running += float(row["influence"])
        inner, out = burst(inner, {"value": running, "rand": row["rand"]})
        return (running, inner[0], inner[1]), {
            "seq": int(row["seq"]),
            "hype_total": running,
            "diff": out["diff"],
            "burst_step": out["burst_step"],
        }
    return step


def stage1_hype(gibbs: DataFrame, rand_col=None) -> dict[str, DataFrame]:
    """Branch B front half: banana filter → hype pieces → influence →
    fused running-sum+burst. Returns the share-hype tee and the
    hype-diff stream. ``gibbs`` needs (id, seq, text); ``rand_col``
    overrides the burst randomness (tests pin it, prod uses entropy)."""
    pieces = stateless.hype_words(
        gibbs.filter(stateless.banana_filter(F.col("text"))))
    rand = rand_col if rand_col is not None else F.rand()
    influence = pieces.select(
        F.col("seq"),
        F.col("word"),
        stateless.constant_key().alias("key"),
        stateless.scaled_influence(F.col("positive")).alias("influence"),
        rand.alias("rand"),
    )
    hype_diff = stateful.apply_per_event_stream(
        influence, ["key"], ["seq", "word"], hype_pipeline_step,
        "key string, seq long, hype_total double, diff double, "
        "burst_step int",
        "running double, prev_diff double, burst_step int",
        lambda s: (float(s[0]), float(s[1]), int(s[2])),
        lambda r: (r[0], r[1], r[2]))
    return {"share_hype": pieces, "hype_diff": hype_diff}


def stage2_share_price(hype_diff: DataFrame,
                       base_price: DataFrame) -> DataFrame:
    """Branch A ⨝ branch B back half: tagged-union connect → ST4
    combiner → SharePriceInfo stream (new_value + forecast).
    ``hype_diff`` needs (key, seq, diff); ``base_price`` (key, seq,
    price)."""
    left = hype_diff.select("key", "seq", F.lit("L").alias("_side"),
                            F.col("diff").alias("v"))
    right = base_price.select("key", "seq", F.lit("R").alias("_side"),
                              F.col("price").alias("v"))
    both = left.unionByName(right)
    return stateful.apply_per_event_stream(
        both, ["key"], ["seq"], stateful.ema_combiner_step,
        "key string, new_value double, forecast_mult double",
        "hype double, ema double, seen boolean",
        lambda s: (float(s[0]), float(s[1]), bool(s[2])),
        lambda r: (r[0], r[1], r[2]))
