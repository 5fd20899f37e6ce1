"""Sources and sinks (SURVEY.md §2.1-2.2).

S1/K1 Kafka: the container has no Kafka broker, so these builders
construct the correct streaming plans (readStream/writeStream format
"kafka" + the TopicDef JSON codecs) but are exercised only up to plan
construction in tests. The S2 synthetic generator is fully runnable; S4
in-memory elements is plain ``spark.createDataFrame`` and K3 console is
``writeStream.format("console")``, so neither needs a wrapper here. The
file/memory pair is the test harness replacement for embedded Kafka
(SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import TopicDef


def kafka_decode(raw: DataFrame, topic: TopicDef,
                 watermark: str | None = "10 milliseconds",
                 time_col: str = "time") -> DataFrame:
    """The decode+watermark half of ``kafka_source``, split out so the
    wire contract is testable without a broker: apply it to ANY frame
    with Kafka's wire shape (binary key/value + metadata columns) —
    the golden-plan test feeds it a static mock frame and pins the
    from_json projection + EventTimeWatermark node."""
    decoded = topic.decode(raw)
    if watermark:
        decoded = decoded.withWatermark(time_col, watermark)
    return decoded


def kafka_source(spark: SparkSession, topic: TopicDef, bootstrap: str,
                 starting_offsets: str = "earliest",
                 watermark: str | None = "10 milliseconds",
                 time_col: str = "time") -> DataFrame:
    """S1 — Kafka consumer source with event-time watermark
    (EmbeddedClustersBoilerplate.java:139-146 + TimestampExtractor.java:8-18:
    bounded out-of-orderness 10 ms)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic.name)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_decode(raw, topic, watermark, time_col)


def kafka_sink(df: DataFrame, topic: TopicDef, bootstrap: str,
               checkpoint: str):
    """K1 — Kafka producer sink (Chapter02:180-184,
    SharePriceDataflow.java:128-132): encode with the topic's JSON serde,
    write-stream to the topic."""
    return (
        topic.encode(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic.name)
        .option("checkpointLocation", checkpoint)
    )


def log_normal_mult_source(spark: SparkSession, rows_per_second: int = 1,
                           mu: float = 0.0001, sigma: float = 0.01,
                           seed: int | None = None) -> DataFrame:
    """S2 — the synthetic share-price-mult generator
    (SharePriceMultSource.java:15-73): one log-normal multiplier per
    second, event time = emission time, watermark = now − 1 s
    (java:36-38). LogNormal(μ, σ) sample = exp(randn()*σ + μ) — computed
    as a Column so the stream stays JVM-side; pass ``seed`` for
    reproducible tests."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    randn = F.randn(seed) if seed is not None else F.randn()
    return (
        rate.select(
            F.col("timestamp").alias("time"),
            F.exp(randn * F.lit(sigma) + F.lit(mu)).alias("mult"),
        )
        .withWatermark("time", "1 second")
    )


def file_stream_source(spark: SparkSession, path: str, schema) -> DataFrame:
    """Test-harness source: stream JSON files from a directory — the
    embedded-Kafka replacement for golden tests (SURVEY.md §5). Write
    inputs with ``write_stream_input``, read here, trigger
    availableNow."""
    return spark.readStream.schema(schema).json(path)


def write_stream_input(spark: SparkSession, path: str, rows: list,
                       schema) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append").json(path)


def memory_sink(df: DataFrame, name: str, checkpoint: str):
    """Collectable test sink: availableNow trigger + in-memory table."""
    return (
        df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def dashboard_projection(df: DataFrame) -> DataFrame:
    """K2 — the Elasticsearch dashboard document projection
    (Dashboard.java:92-99 selects team, trader, time, coins, shares,
    bailouts, fedMonkeys for the trader-states index)."""
    return df.select("team", "trader", "time", "coins", "shares",
                     "bailouts", "fedMonkeys")


def dashboard_sink(df: DataFrame, out_dir: str, checkpoint: str):
    """K2 — dashboard sink as foreachBatch → parquet (the ES stand-in; a
    real deployment swaps the writer lambda for an ES bulk client —
    Dashboard.java:54-76 flushes per event, we flush per micro-batch,
    which is the scale-sane version of the same sink)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return (
        dashboard_projection(df)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
