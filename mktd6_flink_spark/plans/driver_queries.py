"""The driver-contract query registry: one entry per implemented operator
from SURVEY.md §2 plus the LLM-pipeline layer, each with a DuckDB oracle
twin.

The reference's domain streams (market orders, gibbs, trader updates —
SURVEY.md §1.4) don't exist in the driver's TPC-H-ish testdata, so each
query derives a domain-shaped stream from the ``events`` table with
engine-portable expressions (identical derivations in Spark and DuckDB:
see EV_SQL / events_enriched). The operator under test is then applied
exactly as the reference defines it.

Portability rules used throughout (verified primitive-by-primitive):
- rounding: floor(x*1e6+0.5)/1e6 (Spark round() HALF_UPs the shortest
  decimal repr; DuckDB rounds the binary value — they disagree on 1.005).
- money/value sums: sum integer cents (floor(x*100+0.5) as long) then /100
  — exact in any aggregation order, so shuffle order can't break parity.
- casts: floor()+cast (DuckDB double→int cast ROUNDS, Spark truncates).
- sequential folds (EMA, products, ledgers): F.aggregate in Spark,
  list_reduce in DuckDB, same element order (ts, event_id), same literal
  casts — bit-identical IEEE arithmetic.
"""

from __future__ import annotations

import atexit
import contextlib
import json
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from ..functions import dedup as dd
from ..functions import graph as gr
from ..functions import multimodal as mm
from ..functions import similarity as sim
from ..functions import text as tx
from ..functions.hashing import (
    expand_round6,
    hash_params,
    md5_long,
    round_portable,
    sql_md5_long,
    sql_universal_hash,
    universal_hash,
)
from ..model import TEAMS
from ..operators import asof, folds, routing, stateless, windows
from ..streaming import sources

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# State-store partition count for the live streaming entries. Every
# shuffle partition of a stateful streaming query instantiates its own
# state-store provider(s) (a stream-stream join runs FOUR per side), and
# each pays fixed checkpoint/commit costs per micro-batch. At the gate/
# bench SFs the sources are single parquet files, so fewer-but-larger
# state partitions win — measured at sf0.1: 8 halves every stateful
# entry's wall time vs 16 (st7 2.39 s → 1.28 s) with zero effect on
# results (folds are per-KEY; partition count only changes placement).
# On a real cluster this count follows the session's shuffle-partition
# sizing (~2-3× total cores): at 100 TB the per-store fixed cost is
# amortized by real state volume and MORE partitions are correct. It is
# read at call time, so a deployment (or a test sweep) can rebind it.
_STREAM_PARTS = "8"


def _await_done(q, secs: int = 300) -> None:
    """Drain an availableNow query and FAIL LOUDLY on timeout.

    ``q.awaitTermination(secs)`` returns False when the clock runs out
    with the query still live — every caller here reads the sunk
    table/topic right after, so ignoring that bool silently computes
    over a partial drain (worst in the topic-chained loops, where hop
    N+1 would treat hop N's incomplete topic as final). Stop the query
    and raise instead; a slow VM becomes a visible failure, never a
    wrong answer."""
    if not q.awaitTermination(secs):
        try:
            q.stop()
        finally:
            raise RuntimeError(
                f"streaming drain exceeded {secs}s (query {q.name or q.id})")


# ---------------------------------------------------------------------------
# The run lifecycle every live entry shares: scratch dirs, the scoped
# state-store partition count, and the availableNow drains into a memory
# sink or a foreachBatch spill.
# ---------------------------------------------------------------------------

# One scratch root per process, made on first use and removed at exit.
_SCRATCH_ROOT: str | None = None
# Memory-sink views made since the last entry boundary (``register``
# drops them when the next entry starts).
_SINK_VIEWS: list[str] = []


def _remove_scratch_root(root: str, pid: int) -> None:
    # a forked child inherits the hook; only the creating process owns
    # the root
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def _scratch(prefix: str) -> str:
    """A fresh temp dir under this process's scratch root. A checkpoint
    is removed as soon as its query drains; dirs that back a returned
    lazy DataFrame (spill, topic and round-trip tables) live until
    interpreter exit, when an ``atexit`` hook removes the whole root."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="mktd6_scratch_")
        atexit.register(_remove_scratch_root, _SCRATCH_ROOT, os.getpid())
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


@contextlib.contextmanager
def _stream_partitions(spark, parts: str | None = None):
    """Pin ``spark.sql.shuffle.partitions`` to the state-store count
    (``_STREAM_PARTS`` unless ``parts`` overrides it) for the block and
    restore the session value afterwards, also when the block raises.
    A streaming query binds the count when it STARTS — at gate/bench SF
    a plain driver session's 200 is pure per-micro-batch scheduling
    overhead — so wrap ``.start()`` plus any eager batch work that must
    run under the same count."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts or _STREAM_PARTS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _table_stream(spark, sf_dir: str, table: str) -> DataFrame:
    """readStream over one driver table: a file source needs a declared
    schema (taken from the batch read) and a glob pinning the table
    inside the shared sf dir."""
    return (spark.readStream.schema(
        spark.read.parquet(f"{sf_dir}/{table}.parquet").schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir))


def _run_stream_to_table(spark, out, prefix: str, mode: str = "append",
                         parts: str | None = None,
                         until_rows: int | None = None):
    """availableNow → memory sink; returns the sink table DataFrame.
    ``mode="complete"`` for built-in streaming aggregations (the memory
    sink holds the latest full result); ``parts`` overrides the
    state-store count for operators with heavier per-partition state
    machinery (the stream-stream join). ``until_rows`` is for timer
    entries whose output arrives on no-data micro-batches after the
    source drains: the query runs on a 200 ms processing-time trigger
    until the sink holds that many rows (or 180 s pass), then stops
    between two micro-batches — the caller checks the final count."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = _scratch(f"{prefix}_ckpt_")
    writer = sources.memory_sink(out, name, ckpt).outputMode(mode)
    if until_rows is not None:
        writer = writer.trigger(processingTime="200 milliseconds")
    with _stream_partitions(spark, parts):
        q = writer.start()
    _SINK_VIEWS.append(name)
    if until_rows is None:
        _await_done(q, 300)
        shutil.rmtree(ckpt, ignore_errors=True)
        return spark.table(name)
    deadline = time.time() + 180
    while time.time() < deadline and spark.table(name).count() < until_rows:
        time.sleep(0.5)
    # stop between micro-batches: a stop inside one cancels its
    # state-store commit. A trigger can still start between the status
    # read and the stop, and its aborting tasks write into the
    # checkpoint, so it stays until the exit hook
    idle_by = time.time() + 30
    while q.status["isTriggerActive"] and time.time() < idle_by:
        time.sleep(0.01)
    q.stop()
    _await_done(q, 60)
    return spark.table(name)


def _spill_writer(out_dir: str, batch_frame):
    """foreachBatch writer with the IDEMPOTENT-REPLAY contract:
    foreachBatch is at-least-once — after a failure the engine REPLAYS
    the last batch id, and a plain mode('append') spill would
    duplicate that batch's rows. Each batch instead OVERWRITES its own
    deterministic ``b{bid}`` subdir with ``batch_frame(b, bid)``, so a
    replay converges to the same bytes (the batch-id-keyed pattern the
    Structured Streaming guide prescribes for exactly-once foreachBatch
    sinks)."""
    def _batch(b, bid):
        (batch_frame(b, bid).write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"b{int(bid):05d}")))
    return _batch


def _run_stream_to_spill(spark, stream, prefix: str,
                         schema: str | StructType, batch_frame,
                         mode: str = "append"):
    """availableNow → foreachBatch spill (``_spill_writer``) into a
    scratch dir seeded with an empty ``schema``-typed ``bseed``, so an
    all-empty stream still reads back as a typed frame. Returns the
    spill read back as ``b*`` and the drained query."""
    out_dir = _scratch(f"{prefix}_spill_")
    ckpt = _scratch(f"{prefix}_ckpt_")
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(
        os.path.join(out_dir, "bseed"))
    writer = (stream.writeStream.outputMode(mode)
              .foreachBatch(_spill_writer(out_dir, batch_frame))
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True))
    with _stream_partitions(spark):
        q = writer.start()
    _await_done(q, 300)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(os.path.join(out_dir, "b*")), q


def register(name: str, sql: str | None = None):
    def deco(fn):
        import functools

        @functools.wraps(fn)
        def entry(spark, sf_dir):
            # Entry boundary = cache generation boundary: release the
            # PREVIOUS entry's two-phase caches here, so that within
            # one entry several maybe_persist frames can stay live at
            # once (a later persist — own or inside a shared helper
            # like dsir_weights/winnowing_pairs — must never evict an
            # earlier one mid-build; round 12 found exactly that
            # clobber in pipeline_curation_v2). Live caches stay
            # bounded to one entry's worth, as before.
            # The same boundary drops the previous entry's memory-sink
            # views (a returned DataFrame stays valid: its plan holds
            # the sink data, not the view name).
            from ..operators import cache
            cache.release_twophase_caches()
            while _SINK_VIEWS:
                spark.catalog.dropTempView(_SINK_VIEWS.pop())
            return fn(spark, sf_dir)

        QUERIES[name] = entry
        if sql is not None:
            ORACLES[name] = expand_round6(sql)
        return fn
    return deco


def _stream_twin(name: str, batch_name: str,
                 pipeline: Callable[[DataFrame], DataFrame],
                 sink=_run_stream_to_table) -> None:
    """Register ``name`` as the decode-on-ingest twin of the documents
    entry ``batch_name``: the batch entry's own ``pipeline`` (documents
    -> DataFrame) over a readStream of the documents table, drained by
    ``sink(spark, out, prefix)`` and graded against the batch oracle.
    The pipelines are stateless per row (an aggregate, if any, finalizes
    in the sink), so append mode needs no watermark and the rows equal
    the batch twin's under any micro-batching."""
    def twin(spark, sf_dir):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        docs = _table_stream(spark, sf_dir, "documents")
        return sink(spark, pipeline(docs), name)

    twin.__name__ = twin.__qualname__ = name
    twin.__doc__ = (
        f"The {batch_name} pipeline on ingest through the LIVE streaming "
        "runtime. Documents arrive on a readStream of the documents "
        f"table, and the result is graded against {batch_name}'s oracle.")
    register(name, ORACLES[batch_name])(twin)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # The caller (the driver) may hand us a session with a non-UTC
    # timezone; timestamps would then collect shifted vs the DuckDB
    # oracle's naive values (observed: -5h under TZ=America/New_York).
    # Every registered query loads through here, so pin UTC once.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        # events.parquet has shipped with two on-disk ts encodings:
        # TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
        # nanosAsLong surfaces it as raw int64 nanos) and plain
        # timestamp[us] (read as TIMESTAMP_NTZ). Branch on the OBSERVED
        # dtype so either input yields the same session-UTC TIMESTAMP
        # column that DuckDB's naive µs read produces.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_dtype, ts_unit = _events_ts_meta(spark, sf_dir)
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        return df.withColumn("ts", _ts_to_utc_timestamp(ts_dtype, ts_unit))
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# 1e17: as nanoseconds this is 1973-03-03, as microseconds year 5138 —
# any one-unit file of plausible epochs lands entirely on one side.
# Documented floor: int64 NANOSECOND epochs before 1973-03-03 are
# indistinguishable from µs and unsupported (they'd read as µs).
_NS_FLOOR = 100_000_000_000_000_000

# (path, st_mtime_ns, st_size) -> (spark ts dtype, epoch unit "us"|"ns").
# Keyed on the ns-resolution stat pair so a regenerated testdata file
# invalidates the memo even within coarse mtime granularity.
_EVENTS_TS_META: dict[tuple, tuple[str, str]] = {}


def _probe_int64_ts_unit(path: str) -> str:
    """Decide the epoch unit of a raw-int64 ``ts`` column ONCE PER FILE
    from the parquet footer's row-group min/max statistics (no data IO).
    A file whose values straddle ``_NS_FLOOR`` has mixed units — raise
    instead of silently interpreting rows two different ways."""
    import pyarrow.parquet as _pq

    pf = _pq.ParquetFile(path)
    md = pf.metadata
    ci = next(i for i in range(len(md.schema))
              if md.schema.column(i).name == "ts")
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            lo = None
            break
        mn, mx = st.min_raw, st.max_raw  # physical int64 values
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    if lo is None:
        # footer stats absent (rare): one-column read, local-probe path
        col = pf.read(columns=["ts"]).column("ts").cast("int64")
        import pyarrow.compute as _pc
        lo, hi = _pc.min(col).as_py(), _pc.max(col).as_py()
    if lo is None:  # zero rows / all-NULL: unit is irrelevant
        return "us"
    if lo >= _NS_FLOOR and hi >= _NS_FLOOR:
        return "ns"
    if lo < _NS_FLOOR and hi < _NS_FLOOR:
        return "us"
    raise ValueError(
        f"{path}: int64 ts values straddle the 1e17 ns/us threshold "
        f"(min={lo}, max={hi}) — mixed epoch units in one file; "
        "refusing to guess a per-row interpretation")


def _events_ts_meta(spark, sf_dir: str) -> tuple[str, str]:
    """(spark dtype, epoch unit) of the on-disk ``events.ts`` column,
    decided once per file VERSION: dtype from a footer read under
    ``nanosAsLong`` (TIMESTAMP(NANOS) surfaces as bigint ns), unit from
    footer statistics when the column is a raw int64."""
    path = f"{sf_dir}/events.parquet"
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)
    meta = _EVENTS_TS_META.get(key)
    if meta is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_dtype = dict(spark.read.parquet(path).dtypes)["ts"]
        unit = _probe_int64_ts_unit(path) if ts_dtype == "bigint" else "us"
        _EVENTS_TS_META[key] = meta = (ts_dtype, unit)
    return meta


def _ts_to_utc_timestamp(ts_dtype: str, ts_unit: str = "us"):
    """Normalize the events ``ts`` column to a session-UTC TIMESTAMP.

    * ``bigint`` — a raw int64 epoch whose unit was decided ONCE for the
      whole file by ``_probe_int64_ts_unit`` (footer min/max vs the 1e17
      threshold; mixed-magnitude files raise there). ns is
      integer-truncated to micros, exactly what DuckDB's TIMESTAMP µs
      read does; a blanket ``div 1000`` would silently compress raw-µs
      data 1000× (the round-5 bug shape).
    * ``timestamp_ntz`` / ``timestamp`` — already µs precision; a cast to
      TIMESTAMP under the UTC session TZ keeps the wall-clock value
      identical to DuckDB's naive timestamps.
    """
    if ts_dtype == "bigint":
        if ts_unit == "ns":
            return F.expr("timestamp_micros(ts div 1000)")
        return F.expr("timestamp_micros(ts)")
    return F.col("ts").cast("timestamp")


# ---------------------------------------------------------------------------
# Shared event-stream derivation (identical in both engines).
# ---------------------------------------------------------------------------

# Gibb text synthesized per event_type: exercises the reference's hype
# vocabulary (ShareHypePiece.java:24-31), mixed case + punctuation for the
# tokenizer, and '!' chars for the kata-01 influence explode. No quotes.
PHRASES = {
    "click": "Buy buy BUY! I like it; sure and solid #mktd6",
    "view": "up up and AWAY, safe like gold!!",
    "signup": "danger danger! risk of bubble burst...",
    "purchase": "no no NO: sell banana low, hate it!!",
    "error": "zzz gibberish wordz only zzz",
}

ORDER_TYPE = {"click": "BUY", "view": "SELL", "signup": "INVEST",
              "purchase": "FEED", "error": "OOPS"}


def _sql_case(col: str, mapping: dict[str, str], else_: str = "NULL") -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"CASE {col} {whens} ELSE {else_} END"


def _spark_case(col, mapping: dict[str, str]):
    expr = None
    for k, v in mapping.items():
        expr = (F.when(col == k, F.lit(v)) if expr is None
                else expr.when(col == k, F.lit(v)))
    return expr


TEAM_LIST_SQL = "[" + ", ".join(f"'{t}'" for t in TEAMS) + "]"

# The shared enrichment CTE for oracle SQL.
EV_SQL = f"""
ev AS (
  SELECT event_id, ts, user_id, event_type, value, props,
         epoch_ms(ts) AS time_ms,
         concat('trader', user_id % 20) AS trader,
         {TEAM_LIST_SQL}[CAST(user_id % 5 AS INTEGER) + 1] AS team,
         {_sql_case('event_type', ORDER_TYPE)} AS otype,
         CAST(1 + CAST(floor(value) AS BIGINT) % 5 AS INTEGER) AS shares,
         CAST(1 + CAST(floor(value) AS BIGINT) % 3 AS INTEGER) AS monkeys,
         value / 10.0 AS invested,
         {_sql_case('event_type', PHRASES)} AS gibb_text
  FROM events
)
"""


def enrich_events(ev: DataFrame) -> DataFrame:
    """The shared enrichment projection — pure expressions, so it works
    identically on a batch read and a readStream source."""
    return ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props",
        F.unix_millis("ts").alias("time_ms"),
        F.concat(F.lit("trader"), F.col("user_id") % 20).alias("trader"),
        F.element_at(
            F.array(*[F.lit(t) for t in TEAMS]),
            (F.col("user_id") % 5 + 1).cast("int"),
        ).alias("team"),
        _spark_case(F.col("event_type"), ORDER_TYPE).alias("otype"),
        (1 + F.floor("value").cast("long") % 5).cast("int").alias("shares"),
        (1 + F.floor("value").cast("long") % 3).cast("int").alias("monkeys"),
        (F.col("value") / 10.0).alias("invested"),
        _spark_case(F.col("event_type"), PHRASES).alias("gibb_text"),
    )


def events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_events(load(spark, sf_dir, "events"))


def _cents(col) -> F.Column:
    """Exact integer cents — portable, order-independent summation."""
    return F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("long")


SQL_CENTS = "CAST(floor({x} * 100.0 + 0.5) AS BIGINT)"


def _topk_ranked(df: DataFrame, order_cols: list, k: int,
                 rank_col: str = "rank") -> DataFrame:
    """Global top-k WITH a rank column, scale-safely: `orderBy(...)
    .limit(k)` compiles to TakeOrderedAndProject (per-partition top-k,
    driver merge of k*P rows — the `top_k` pattern,
    operators/windows.py:113), and only THEN is row_number stamped on
    the k-row result, so the single-partition window sort the plan
    audit flags touches a CONSTANT k rows, never the full table. A
    bare `row_number() OVER (ORDER BY ...)` finisher funnels the
    ENTIRE input through one task — the 100×-scale killer this
    helper exists to prevent. order_cols must be a deterministic
    total order (ties broken) for engine-exact ranks."""
    top = df.orderBy(*order_cols).limit(k)
    w = Window.orderBy(*order_cols)
    return top.withColumn(rank_col, F.row_number().over(w))


# ===========================================================================
# P1–P19: stateless row operators (SURVEY.md §2.3)
# ===========================================================================

@register("p01_buy_sell", f"""
WITH {EV_SQL}
SELECT event_id,
       CASE WHEN value / 10.0 > 1.0 THEN 'BUY' ELSE 'SELL' END AS decision
FROM ev
""")
def p01_buy_sell(spark, sf_dir):
    """P1 forecast→BUY/SELL (Chapter00:119-125) over a derived forecast."""
    ev = events_enriched(spark, sf_dir)
    return ev.select(
        "event_id",
        stateless.buy_sell_decision(F.col("value") / 10.0).alias("decision"),
    )


@register("p02_hashtag_filter", """
SELECT doc_id FROM documents
WHERE contains(text, 'spark') AND contains(text, 'join')
""")
def p02_hashtag_filter(spark, sf_dir):
    """P2 conjunctive containment (Chapter01:140-147)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        stateless.contains_all(F.col("text"), "spark", "join")
    ).select("doc_id")


SENT_POS = ("fast", "good")
SENT_NEG = ("slow", "bad")
_SENT_SQL = f"""
CASE WHEN regexp_matches(text, '.*\\b({'|'.join(SENT_POS)})\\b.*') THEN 'POS'
     WHEN regexp_matches(text, '.*\\b({'|'.join(SENT_NEG)})\\b.*') THEN 'NEG'
     ELSE 'NEUTRAL' END
"""


@register("p03_sentiment", f"""
SELECT doc_id, {_SENT_SQL} AS sentiment FROM documents
""")
def p03_sentiment(spark, sf_dir):
    """P3 word-boundary sentiment (Chapter01:175-182), case-sensitive,
    vocab adapted to the corpus."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        stateless.sentiment(F.col("text"), SENT_POS, SENT_NEG).alias("sentiment"),
    )


@register("p04_non_neutral", f"""
SELECT doc_id, sentiment FROM (
  SELECT doc_id, {_SENT_SQL} AS sentiment FROM documents
) WHERE sentiment <> 'NEUTRAL'
""")
def p04_non_neutral(spark, sf_dir):
    """P4 drop NEUTRAL (Chapter01:156-161)."""
    return p03_sentiment(spark, sf_dir).filter(
        stateless.non_neutral(F.col("sentiment"))
    )


@register("p05_explode_chars", f"""
WITH s AS (
  SELECT doc_id, {_SENT_SQL} AS sentiment,
         length(text) - length(replace(text, 'a', '')) AS n_bang
  FROM documents
)
SELECT doc_id,
       CASE WHEN sentiment = 'POS' THEN 'UP' ELSE 'DOWN' END AS influence
FROM s, (SELECT unnest(generate_series(1, 10000)) AS i) g
WHERE g.i <= s.n_bang
""")
def p05_explode_chars(spark, sf_dir):
    """P5 one row per marker char, mapped to UP/DOWN by sentiment
    (Chapter01:163-192; marker '!'→'a' for this corpus)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        stateless.sentiment(F.col("text"), SENT_POS, SENT_NEG).alias("sentiment"),
        F.col("text"),
    )
    out = stateless.explode_influencing_chars(
        docs.withColumn("text", F.regexp_replace(
            F.regexp_replace("text", "!", ""), "a", "!")),
        "text", "sentiment")
    return out.select("doc_id", "influence")


# Chapter02 order-string synthesis: one [a-z0-9]-token line per event; rows
# with user_id%7=0 get a non-numeric time token (regex-pass, parseLong-fail
# → invalid branch, Chapter02:239-260), rows with user_id%11=0 get a
# lowercase type (regex-pass, case-sensitive valueOf-fail → invalid
# branch, Chapter02:241), INVEST/FEED/OOPS types fail the regex itself.
_ORDER_TXT_SQL = """
((CASE WHEN user_id % 7 = 0 THEN CAST(time_ms AS VARCHAR) || 'x'
       ELSE CAST(time_ms AS VARCHAR) END)
 || ' ' || trader || ' txn' || event_id || ' '
 || (CASE WHEN user_id % 11 = 0 THEN lower(otype) ELSE otype END)
 || ' ' || shares)
"""


def _order_text_spark(ev: DataFrame) -> DataFrame:
    timetok = F.when(
        F.col("user_id") % 7 == 0, F.concat(F.col("time_ms"), F.lit("x"))
    ).otherwise(F.col("time_ms").cast("string"))
    typetok = F.when(
        F.col("user_id") % 11 == 0, F.lower(F.col("otype"))
    ).otherwise(F.col("otype"))
    return ev.withColumn(
        "order_text",
        F.concat(timetok, F.lit(" "), F.col("trader"), F.lit(" txn"),
                 F.col("event_id"), F.lit(" "), typetok, F.lit(" "),
                 F.col("shares")),
    )


_ORDER_PAT = r"(?i)^([a-z0-9]+) ([a-z0-9]+) ([a-z0-9]+) (BUY|SELL) ([0-9]+)$"


@register("p06_parse_orders", f"""
WITH {EV_SQL},
s AS (SELECT event_id, {_ORDER_TXT_SQL} AS txt FROM ev),
m AS (
  SELECT event_id, txt,
         TRY_CAST(regexp_extract(txt, '{_ORDER_PAT}', 1) AS BIGINT) AS time_ms,
         regexp_extract(txt, '{_ORDER_PAT}', 2) AS player,
         regexp_extract(txt, '{_ORDER_PAT}', 3) AS txn_id,
         regexp_extract(txt, '{_ORDER_PAT}', 4) AS otype,
         TRY_CAST(regexp_extract(txt, '{_ORDER_PAT}', 5) AS INTEGER) AS shares
  FROM s WHERE regexp_matches(txt, '{_ORDER_PAT}')
)
SELECT event_id, time_ms, player, txn_id, otype, shares
FROM m WHERE time_ms IS NOT NULL AND shares IS NOT NULL
  AND otype IN ('BUY', 'SELL')
""")
def p06_parse_orders(spark, sf_dir):
    """P6 regex parse → MarketOrder, valid (Right) branch
    (Chapter02:237-260)."""
    ev = _order_text_spark(events_enriched(spark, sf_dir))
    parsed = ev.select(
        "event_id",
        stateless.parse_market_order(F.col("order_text")).alias("o"),
    )
    return parsed.filter(F.col("o").isNotNull()).select(
        "event_id",
        F.col("o.time_ms").alias("time_ms"),
        F.col("o.player").alias("player"),
        F.col("o.txnId").alias("txn_id"),
        F.col("o.type").alias("otype"),
        F.col("o.shares").alias("shares"),
    )


@register("p06b_invalid_orders", f"""
WITH {EV_SQL},
s AS (SELECT event_id, {_ORDER_TXT_SQL} AS txt FROM ev)
SELECT event_id, txt AS raw FROM s
WHERE NOT regexp_matches(txt, '{_ORDER_PAT}')
   OR TRY_CAST(regexp_extract(txt, '{_ORDER_PAT}', 1) AS BIGINT) IS NULL
   OR TRY_CAST(regexp_extract(txt, '{_ORDER_PAT}', 5) AS INTEGER) IS NULL
   OR regexp_extract(txt, '{_ORDER_PAT}', 4) NOT IN ('BUY', 'SELL')
""")
def p06b_invalid_orders(spark, sf_dir):
    """P6 invalid (Left/Either) branch — regex misses AND numeric-parse
    failures AND case-sensitive MarketOrderType.valueOf throws
    (Chapter02:241), exactly Chapter02's try/catch routing."""
    ev = _order_text_spark(events_enriched(spark, sf_dir))
    parsed = ev.select(
        "event_id",
        F.col("order_text").alias("raw"),
        stateless.parse_market_order(F.col("order_text")).alias("o"),
    )
    return parsed.filter(F.col("o").isNull()).select("event_id", "raw")


@register("p07_order_size", f"""
SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity <= 30.0
""")
def p07_order_size(spark, sf_dir):
    """P7 size guard (Chapter02:262-270) on lineitem quantities."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        stateless.order_size_guard(F.col("l_quantity"), 30)
    ).select("l_orderkey", "l_linenumber")


@register("p08_contains", """
SELECT doc_id FROM documents WHERE contains(text, 'stream')
""")
def p08_contains(spark, sf_dir):
    """P8 substring filter (SharePriceDataflow.java:145-150)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("text").contains("stream")).select("doc_id")


_HYPE_POS_SQL = ", ".join(f"'{w}'" for w in stateless.HYPE_POSITIVE)
_HYPE_NEG_SQL = ", ".join(f"'{w}'" for w in stateless.HYPE_NEGATIVE)
# ShareHypePiece.java:66-68 cleaning: lowercase, strip [^a-z \n], split \s+.
_HYPE_WORDS_SQL = """
list_filter(string_split(regexp_replace(regexp_replace(lower(gibb_text),
    '[^a-z \n]+', '', 'g'), '\\s+', ' ', 'g'), ' '), w -> w <> '')
"""


@register("p09_hype_words", f"""
WITH {EV_SQL},
w AS (SELECT event_id, unnest({_HYPE_WORDS_SQL}) AS word FROM ev)
SELECT event_id, word,
       word IN ({_HYPE_POS_SQL}) AS positive
FROM w WHERE word IN ({_HYPE_POS_SQL}) OR word IN ({_HYPE_NEG_SQL})
""")
def p09_hype_words(spark, sf_dir):
    """P9 gibb → hype pieces with the exact reference vocabulary
    (SharePriceDataflow.java:152-160, ShareHypePiece.java:24-31,61-84)."""
    ev = events_enriched(spark, sf_dir)
    out = stateless.hype_words(ev.select("event_id", F.col("gibb_text").alias("text")))
    return out.select("event_id", "word", "positive")


@register("p10_influence", f"""
WITH {EV_SQL},
w AS (SELECT event_id, unnest({_HYPE_WORDS_SQL}) AS word FROM ev)
SELECT event_id, word,
       CAST(CASE WHEN word IN ({_HYPE_POS_SQL}) THEN 0.01 ELSE -0.01 END
            AS DOUBLE) AS influence
FROM w WHERE word IN ({_HYPE_POS_SQL}) OR word IN ({_HYPE_NEG_SQL})
""")
def p10_influence(spark, sf_dir):
    """P10 hype piece → ±1 × 0.01 influence
    (SharePriceDataflow.java:162-167)."""
    return p09_hype_words(spark, sf_dir).select(
        "event_id",
        "word",
        stateless.scaled_influence(F.col("positive")).alias("influence"),
    )


@register("p12_updaters", f"""
WITH {EV_SQL}
SELECT event_id, trader,
       CASE otype WHEN 'BUY' THEN 'MARKET' WHEN 'SELL' THEN 'MARKET'
                  WHEN 'INVEST' THEN 'INVEST' WHEN 'FEED' THEN 'FEED'
                  ELSE NULL END AS utype,
       CASE otype WHEN 'BUY' THEN -CAST(shares AS DOUBLE) * 2.0
                  WHEN 'SELL' THEN CAST(shares AS DOUBLE) * 2.0
                  WHEN 'INVEST' THEN -invested
                  ELSE 0.0 END AS coins_diff,
       CASE otype WHEN 'BUY' THEN shares WHEN 'SELL' THEN -shares
                  WHEN 'FEED' THEN -monkeys ELSE 0 END AS shares_diff,
       CASE otype WHEN 'FEED' THEN monkeys ELSE 0 END AS fed_monkeys,
       CASE otype WHEN 'INVEST' THEN 1 ELSE 0 END AS invest_diff
FROM ev WHERE otype <> 'OOPS'
""")
def p12_updaters(spark, sf_dir):
    """P12 op → TraderStateUpdater deltas, all three variants
    (TraderStateUpdater.java:141-172; price fixed at 2.0)."""
    ev = events_enriched(spark, sf_dir).filter(F.col("otype") != "OOPS")
    mkt_coins, mkt_shares = stateless.updater_from_market_order(
        F.col("otype"), F.col("shares"), F.lit(2.0))
    inv_coins, inv_shares, inv_fed, inv_invest = stateless.updater_from_investment(
        F.col("invested"))
    feed_coins, feed_shares, feed_fed, feed_invest = stateless.updater_from_feed_monkeys(
        F.col("monkeys"))
    is_mkt = F.col("otype").isin("BUY", "SELL")
    is_inv = F.col("otype") == "INVEST"
    is_feed = F.col("otype") == "FEED"
    return ev.select(
        "event_id",
        "trader",
        F.when(is_mkt, "MARKET").when(is_inv, "INVEST")
        .when(is_feed, "FEED").alias("utype"),
        F.when(is_mkt, mkt_coins).when(is_inv, inv_coins)
        .otherwise(F.lit(0.0)).alias("coins_diff"),
        F.when(is_mkt, mkt_shares).when(is_feed, feed_shares)
        .otherwise(F.lit(0)).cast("int").alias("shares_diff"),
        F.when(is_feed, feed_fed).otherwise(F.lit(0)).cast("int")
        .alias("fed_monkeys"),
        F.when(is_inv, inv_invest).otherwise(F.lit(0)).cast("int")
        .alias("invest_diff"),
    )


@register("p13_p15_projections", f"""
WITH {EV_SQL}
SELECT event_id, concat('txn', event_id) AS txn_id,
       CASE WHEN value < 30.0 THEN 'ACCEPTED'
            WHEN value < 35.0 THEN 'INSUFFICIENT_COINS'
            ELSE 'INSUFFICIENT_SHARES' END AS status,
       value AS coins
FROM ev
""")
def p13_p15_projections(spark, sf_dir):
    """P13/P15 nested-struct projections (MarketDataflow.java:394-399,
    MonkeyStockTrader.java:285-291): build TxnEvent-shaped nesting, unwrap
    with select('s.*') / state.coins paths."""
    ev = events_enriched(spark, sf_dir)
    nested = ev.select(
        "event_id",
        F.struct(
            F.struct(
                F.concat(F.lit("txn"), F.col("event_id")).alias("txnId"),
                F.when(F.col("value") < 30.0, "ACCEPTED")
                .when(F.col("value") < 35.0, "INSUFFICIENT_COINS")
                .otherwise("INSUFFICIENT_SHARES").alias("status"),
                F.struct(F.col("value").alias("coins")).alias("state"),
            ).alias("txnResult"),
        ).alias("ev_struct"),
    )
    txn = nested.select(
        "event_id",
        stateless.project_txn_result(F.col("ev_struct")).alias("txn"),
    )
    return txn.select(
        "event_id",
        F.col("txn.txnId").alias("txn_id"),
        F.col("txn.status").alias("status"),
        stateless.txn_result_coins(F.col("txn")).alias("coins"),
    )


@register("p14_accepted", f"""
WITH {EV_SQL}
SELECT event_id FROM ev WHERE
  CASE WHEN value < 30.0 THEN 'ACCEPTED'
       WHEN value < 35.0 THEN 'INSUFFICIENT_COINS'
       ELSE 'INSUFFICIENT_SHARES' END = 'ACCEPTED'
""")
def p14_accepted(spark, sf_dir):
    """P14 status == ACCEPTED filter (MarketDataflow.java:185-188)."""
    ev = events_enriched(spark, sf_dir)
    status = (
        F.when(F.col("value") < 30.0, "ACCEPTED")
        .when(F.col("value") < 35.0, "INSUFFICIENT_COINS")
        .otherwise("INSUFFICIENT_SHARES")
    )
    return ev.withColumn("status", status).filter(
        stateless.accepted_only(F.col("status"))
    ).select("event_id")


@register("p16_self_trades", f"""
WITH {EV_SQL}
SELECT event_id, team, trader FROM ev
WHERE team = 'BONOBO' AND trader = 'trader6'
""")
def p16_self_trades(spark, sf_dir):
    """P16 literal-trader filter (MonkeyStockChampion.java:136-142)."""
    ev = events_enriched(spark, sf_dir)
    return ev.filter(
        stateless.self_trades(F.col("team"), F.col("trader"),
                              "BONOBO", "trader6")
    ).select("event_id", "team", "trader")


@register("p17_positive_balance", f"""
WITH {EV_SQL}
SELECT event_id, value - 250.0 AS coins FROM ev WHERE value - 250.0 > 0.0
""")
def p17_positive_balance(spark, sf_dir):
    """P17 coins > 0 guard (MonkeyStockTrader.java:293-298)."""
    ev = events_enriched(spark, sf_dir).withColumn(
        "coins", F.col("value") - 250.0)
    return ev.filter(
        stateless.positive_balance(F.col("coins"))
    ).select("event_id", "coins")


_TWEET_JSON_SQL = (
    "CASE WHEN event_type = 'error' "
    "THEN concat('{\"id_str\":\"', event_id, '\"}') "
    "ELSE concat('{\"id_str\":\"', event_id, "
    "'\",\"text\":\"', gibb_text, '\"}') END"
)


@register("p19_tweet_extract", f"""
WITH {EV_SQL},
j AS (SELECT event_id, {_TWEET_JSON_SQL} AS tweet FROM ev)
SELECT event_id,
       json_extract_string(tweet, '$.id_str') AS tweet_id,
       json_extract_string(tweet, '$.text') AS text
FROM j
WHERE json_extract_string(tweet, '$.id_str') IS NOT NULL
  AND json_extract_string(tweet, '$.text') IS NOT NULL
  AND regexp_matches(json_extract_string(tweet, '$.text'), '(?i).*banana.*')
""")
def p19_tweet_extract(spark, sf_dir):
    """P19 tweet JSON extraction + banana filter (Gibber.java:118-145)."""
    ev = events_enriched(spark, sf_dir)
    tweet = F.when(
        F.col("event_type") == "error",
        F.concat(F.lit('{"id_str":"'), F.col("event_id"), F.lit('"}')),
    ).otherwise(
        F.concat(F.lit('{"id_str":"'), F.col("event_id"),
                 F.lit('","text":"'), F.col("gibb_text"), F.lit('"}'))
    )
    parsed = ev.select(
        "event_id", stateless.extract_tweet(tweet).alias("t"))
    return parsed.filter(F.col("t").isNotNull()).select(
        "event_id",
        F.col("t.id").alias("tweet_id"),
        F.col("t.text").alias("text"),
    )


# ===========================================================================
# R1–R3: routing (SURVEY.md §2.4)
# ===========================================================================

@register("r1_r2_split_union", f"""
WITH {EV_SQL},
t AS (SELECT event_id,
             CASE WHEN otype = 'BUY' THEN 'buy'
                  WHEN otype = 'SELL' THEN 'sell'
                  ELSE 'invalid' END AS tag
      FROM ev)
SELECT event_id, tag FROM t WHERE tag IN ('buy', 'sell')
""")
def r1_r2_split_union(spark, sf_dir):
    """R1 split/select + R2 union (Chapter02:169-217): tag, consume the
    buy/sell branches, union them back."""
    ev = events_enriched(spark, sf_dir)
    tag = (
        F.when(F.col("otype") == "BUY", "buy")
        .when(F.col("otype") == "SELL", "sell")
        .otherwise("invalid")
    )
    branches = routing.split_select(ev, tag, "buy", "sell", "invalid")
    buys = branches["buy"].select("event_id", F.lit("buy").alias("tag"))
    sells = branches["sell"].select("event_id", F.lit("sell").alias("tag"))
    return routing.union_all(buys, sells)


@register("r3_tagged_union", f"""
WITH {EV_SQL}
SELECT event_id, value, CAST(NULL AS DOUBLE) AS amount, 'L' AS _side
FROM ev WHERE event_type = 'click'
UNION ALL
SELECT event_id, CAST(NULL AS DOUBLE) AS value, value * 2.0 AS amount, 'R'
FROM ev WHERE event_type = 'purchase'
""")
def r3_tagged_union(spark, sf_dir):
    """R3 connect-style tagged union (SharePriceDataflow.java:125-127):
    widen two differently-typed streams into one with a _side tag."""
    ev = events_enriched(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select("event_id", "value")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", (F.col("value") * 2.0).alias("amount"))
    return routing.tagged_union(left, right)


# ===========================================================================
# W2–W5: windows and aggregations (SURVEY.md §2.5)
# ===========================================================================

@register("w2_tumbling_sum", f"""
WITH {EV_SQL},
b AS (SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
             trader, ts, event_id,
             {SQL_CENTS.format(x='value')} AS cents
      FROM ev),
g AS (SELECT window_start_ms, trader,
             CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
      FROM b GROUP BY 1, 2),
f AS (SELECT window_start_ms, trader, event_id,
             row_number() OVER (PARTITION BY window_start_ms, trader
                                ORDER BY ts, event_id) AS rn
      FROM b)
SELECT g.window_start_ms, g.trader, g.sum_value, f.event_id AS first_event
FROM g JOIN f ON f.window_start_ms = g.window_start_ms AND f.trader = g.trader
WHERE f.rn = 1
""")
def w2_tumbling_sum(spark, sf_dir):
    """W2 tumbling window + reduce (Chapter03:125-139): per-trader hourly
    sum (exact integer-cents) keeping the FIRST event id by (ts, id)."""
    ev = events_enriched(spark, sf_dir)
    out = (
        ev.groupBy(F.window("ts", "1 hour").alias("_w"), "trader")
        .agg(
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
            .alias("sum_value"),
            F.min_by("event_id", F.struct("ts", "event_id"))
            .alias("first_event"),
        )
        .select(
            F.unix_millis(F.col("_w.start")).alias("window_start_ms"),
            "trader",
            "sum_value",
            "first_event",
        )
    )
    return out


@register("w3_running_sum", f"""
WITH {EV_SQL}
SELECT event_id, event_type,
       CAST(sum({SQL_CENTS.format(x='value')})
            OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
       AS running_sum
FROM ev WHERE value IS NOT NULL
""")
def w3_running_sum(spark, sf_dir):
    """W3 per-key running sum emitted per element
    (SharePriceDataflow.java:121-122), exact integer-cents accumulation.
    NULL-value rows are filtered at input: a block-local sum cannot
    distinguish an empty prefix from an all-NULL prefix, so the
    two-phase prefix sum (like any running fold here) contracts on
    non-null accumulator input — identical filter in the oracle."""
    ev = (events_enriched(spark, sf_dir)
          .filter(F.col("value").isNotNull())
          .withColumn("_c", _cents(F.col("value"))))
    # 5 distinct keys would bottleneck a plain analytic window at scale;
    # the two-phase prefix sum parallelizes within each key (exact:
    # integer cents, associative)
    out = windows.running_sum_scalable(
        ev, ["event_type"], ["ts", "event_id"], "_c", out="_rs")
    return out.select(
        "event_id", "event_type",
        (F.col("_rs").cast("double") / 100.0).alias("running_sum"),
    )


@register("w5_avg_per_minute", f"""
WITH {EV_SQL}
SELECT epoch_ms(date_trunc('minute', ts)) AS minute_ms,
       CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
         / CAST(count(*) AS DOUBLE) AS avg_value
FROM ev GROUP BY 1
""")
def w5_avg_per_minute(spark, sf_dir):
    """W5a dashboard avg-per-1-minute histogram (kibana-dashboard.json),
    exact-cents numerator."""
    ev = events_enriched(spark, sf_dir)
    return (
        ev.groupBy(F.unix_millis(F.date_trunc("minute", F.col("ts")))
                   .alias("minute_ms"))
        .agg(
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0
             / F.count(F.lit(1)).cast("double")).alias("avg_value")
        )
    )


@register("w5_sum_per_team", f"""
WITH {EV_SQL}
SELECT team, CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
       AS sum_value
FROM ev GROUP BY team
""")
def w5_sum_per_team(spark, sf_dir):
    """W5b sum per team ("Monkeys Fed" / bailouts pies)."""
    ev = events_enriched(spark, sf_dir)
    return ev.groupBy("team").agg(
        (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
        .alias("sum_value"))


@register("w5_top5_traders", f"""
WITH {EV_SQL},
s AS (SELECT trader,
             CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
               AS sum_value
      FROM ev GROUP BY trader)
SELECT trader, sum_value FROM s
ORDER BY sum_value DESC, trader ASC LIMIT 5
""")
def w5_top5_traders(spark, sf_dir):
    """W5c top-5 traders by sum desc ("terms trader size 5 order desc"),
    deterministic tie-break."""
    ev = events_enriched(spark, sf_dir).withColumn("_c", _cents(F.col("value")))
    out = (
        ev.groupBy("trader")
        .agg((F.sum("_c").cast("double") / 100.0).alias("sum_value"))
        .orderBy(F.col("sum_value").desc(), F.col("trader").asc())
        .limit(5)
    )
    return out


# ===========================================================================
# ST1/ST2/ST6/ST7/ST9 + ST4/ST5/ST10 batch twins (SURVEY.md §2.6)
# ===========================================================================

@register("st1_ema", f"""
WITH {EV_SQL},
s AS (SELECT event_type, list(value ORDER BY ts, event_id) AS vs
      FROM ev WHERE value IS NOT NULL GROUP BY event_type)
SELECT event_type,
       ROUND6(list_reduce(vs,
           (acc, x) -> x * CAST(0.1 AS DOUBLE)
                       + acc * CAST(0.9 AS DOUBLE))) AS ema
FROM s
""")
def st1_ema(spark, sf_dir):
    """ST1 EMA fold, final value per key (Chapter04:86-113,168-178):
    ema = first ? x : x*0.1 + ema*0.9, identical fold order both engines.

    Oracle-twin shape: collects each key's history into one array
    (5 keys here). Production-shaped jobs route through the O(1)-state
    streaming path instead (`streaming_st1_ema`) — see folds.py scale
    note."""
    ev = events_enriched(spark, sf_dir).filter(F.col("value").isNotNull())
    out = folds.fold_by_key(
        ev, ["event_type"], ["ts", "event_id"], ["value"],
        lambda seq: folds.ema_fold(seq, "value", 0.1), "ema")
    return out.select("event_type", round_portable(F.col("ema")).alias("ema"))


@register("st2_product", f"""
WITH {EV_SQL},
s AS (SELECT event_type,
             list(1.0 + value / CAST(10000.0 AS DOUBLE)
                  ORDER BY ts, event_id) AS vs
      FROM ev GROUP BY event_type)
SELECT event_type,
       ROUND6(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), vs),
           (acc, x) -> acc * x)) AS price_mult
FROM s
""")
def st2_product(spark, sf_dir):
    """ST2 multiplicative accumulator, final product per key
    (SharePriceDataflow.java:72-96)."""
    ev = events_enriched(spark, sf_dir).withColumn(
        "mult", F.lit(1.0) + F.col("value") / F.lit(10000.0))
    out = folds.fold_by_key(
        ev, ["event_type"], ["ts", "event_id"], ["mult"],
        lambda seq: folds.product_fold(seq, "mult"), "price_mult")
    return out.select("event_type",
                      round_portable(F.col("price_mult")).alias("price_mult"))


def _updaters_from(ev: DataFrame) -> DataFrame:
    """Full TraderStateUpdater stream from an enriched events frame
    (all three P12 variants, price fixed 2.0). Pure expressions —
    batch- and stream-compatible."""
    # null-value events carry no decodable updater payload (shares /
    # invested / monkeys all derive from value) — the null-decoding
    # codec stance: reject at ingest, identically in the oracle CTE
    ev = ev.filter((F.col("otype") != "OOPS")
                   & F.col("value").isNotNull())
    is_mkt = F.col("otype").isin("BUY", "SELL")
    is_inv = F.col("otype") == "INVEST"
    is_feed = F.col("otype") == "FEED"
    mkt_coins, mkt_shares = stateless.updater_from_market_order(
        F.col("otype"), F.col("shares"), F.lit(2.0))
    return ev.select(
        "trader", "ts", "event_id",
        F.when(is_mkt, "MARKET").when(is_inv, "INVEST")
        .when(is_feed, "FEED").alias("utype"),
        F.when(is_mkt, mkt_coins).when(is_inv, -F.col("invested"))
        .otherwise(F.lit(0.0)).alias("coinsDiff"),
        F.when(is_mkt, mkt_shares).when(is_feed, -F.col("monkeys"))
        .otherwise(F.lit(0)).cast("int").alias("sharesDiff"),
        F.lit(False).alias("addBailout"),
        F.when(is_feed, F.col("monkeys")).otherwise(F.lit(0)).cast("int")
        .alias("fedMonkeys"),
        F.when(is_inv, F.lit(1)).otherwise(F.lit(0)).cast("int")
        .alias("investDiff"),
        F.when(is_mkt, F.lit("MARKET")).otherwise(F.col("otype")).alias("type"),
    )


def _updater_stream(spark, sf_dir):
    return _updaters_from(events_enriched(spark, sf_dir))


# DuckDB twin of the ST6 fold: state and updaters as DOUBLE[] so
# list_reduce stays homogeneous. Layout:
#   state   = [coins, shares, bailouts, fedMonkeys, inFlight]
#   updater = [coinsDiff, sharesDiff, addBailout, fedMonkeys, investDiff,
#              isBailoutType]
_ST6_NC = "(acc[1] + x[1])"
_ST6_NS = "(acc[2] + x[2])"
_ST6_NB = "(acc[3] + x[3])"
_ST6_NF = "(acc[4] + x[4])"
_ST6_NI = "(acc[5] + x[5])"
_ST6_APPLY = (f"(x[6] = 0.0 AND {_ST6_NI} <= 0.0 AND {_ST6_NC} <= 3.0 "
              f"AND {_ST6_NS} <= 0.0 "
              f"AND {_ST6_NC} + 10.0 >= 0.0 AND {_ST6_NS} + 5.0 >= 0.0)")
_ST6_BC = f"(CASE WHEN {_ST6_APPLY} THEN {_ST6_NC} + 10.0 ELSE {_ST6_NC} END)"
_ST6_BS = f"(CASE WHEN {_ST6_APPLY} THEN {_ST6_NS} + 5.0 ELSE {_ST6_NS} END)"
_ST6_BB = f"(CASE WHEN {_ST6_APPLY} THEN {_ST6_NB} + 1.0 ELSE {_ST6_NB} END)"
_ST6_OK = f"({_ST6_BC} >= 0.0 AND {_ST6_BS} >= 0.0)"
_ST6_STEP = f"""[
  CASE WHEN {_ST6_OK} THEN {_ST6_BC} ELSE acc[1] END,
  CASE WHEN {_ST6_OK} THEN {_ST6_BS} ELSE acc[2] END,
  CASE WHEN {_ST6_OK} THEN {_ST6_BB} ELSE acc[3] END,
  CASE WHEN {_ST6_OK} THEN {_ST6_NF} ELSE acc[4] END,
  CASE WHEN {_ST6_OK} THEN {_ST6_NI} ELSE acc[5] END
]"""

_ST6_UPD_SQL = f"""
upd AS (
  SELECT trader, ts, event_id,
         CAST([
           CASE otype WHEN 'BUY' THEN -CAST(shares AS DOUBLE) * 2.0
                      WHEN 'SELL' THEN CAST(shares AS DOUBLE) * 2.0
                      WHEN 'INVEST' THEN -invested ELSE 0.0 END,
           CASE otype WHEN 'BUY' THEN CAST(shares AS DOUBLE)
                      WHEN 'SELL' THEN -CAST(shares AS DOUBLE)
                      WHEN 'FEED' THEN -CAST(monkeys AS DOUBLE)
                      ELSE 0.0 END,
           0.0,
           CASE otype WHEN 'FEED' THEN CAST(monkeys AS DOUBLE) ELSE 0.0 END,
           CASE otype WHEN 'INVEST' THEN 1.0 ELSE 0.0 END,
           0.0
         ] AS DOUBLE[]) AS u
  FROM ev WHERE otype <> 'OOPS' AND value IS NOT NULL
)
"""


@register("st6_trader_ledger", f"""
WITH {EV_SQL},
{_ST6_UPD_SQL},
seqs AS (SELECT trader, list(u ORDER BY ts, event_id) AS us
         FROM upd GROUP BY trader),
folded AS (
  SELECT trader,
         list_reduce(
           list_prepend(CAST([10.0, 5.0, 0.0, 0.0, 0.0] AS DOUBLE[]), us),
           (acc, x) -> {_ST6_STEP}) AS st
  FROM seqs)
SELECT trader,
       ROUND6(st[1]) AS coins,
       CAST(st[2] AS INTEGER) AS shares,
       CAST(st[3] AS INTEGER) AS bailouts,
       CAST(st[4] AS INTEGER) AS fed_monkeys,
       CAST(st[5] AS INTEGER) AS in_flight
FROM folded
""")
def st6_trader_ledger(spark, sf_dir):
    """ST6 trader-state settlement fold — the reference's core correctness
    target (MarketDataflow.java:284-310, TraderStateUpdater.java:115-139,
    TraderState.java:69-83): deltas, auto-bailout, validation, rejected
    updates keep prior state."""
    upd = _updater_stream(spark, sf_dir)
    out = folds.fold_by_key(
        upd, ["trader"], ["ts", "event_id"],
        ["type", "coinsDiff", "sharesDiff", "addBailout", "fedMonkeys",
         "investDiff"],
        folds.trader_state_fold, "state")
    return out.select(
        "trader",
        round_portable(F.col("state.coins")).alias("coins"),
        F.col("state.shares").alias("shares"),
        F.col("state.bailouts").alias("bailouts"),
        F.col("state.fedMonkeys").alias("fed_monkeys"),
        F.col("state.inFlightInvestments").alias("in_flight"),
    )


@register("st7_running_investment", f"""
WITH {EV_SQL}
SELECT event_id, trader,
       CAST(sum({SQL_CENTS.format(x='abs(invested)')})
            OVER (PARTITION BY trader ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
       AS total_invested
FROM ev WHERE event_type = 'signup'
""")
def st7_running_investment(spark, sf_dir):
    """ST7 running per-trader investment total (MarketDataflow.java:319-339):
    total += abs(investedCoins), exact cents."""
    ev = events_enriched(spark, sf_dir).filter(F.col("event_type") == "signup")
    ev = ev.withColumn("_c", _cents(F.abs(F.col("invested"))))
    out = windows.running_sum(ev, ["trader"], ["ts", "event_id"], "_c", "_rs")
    return out.select(
        "event_id", "trader",
        (F.col("_rs").cast("double") / 100.0).alias("total_invested"))


@register("st9_txn_sequence", f"""
WITH {EV_SQL}
SELECT event_id, trader,
       CAST(row_number() OVER (PARTITION BY trader ORDER BY ts, event_id)
            AS INTEGER) AS seq
FROM ev
""")
def st9_txn_sequence(spark, sf_dir):
    """ST9 per-key monotone txn-id counter
    (MonkeyStockTrader.java:167-206)."""
    ev = events_enriched(spark, sf_dir)
    w = Window.partitionBy("trader").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "trader",
        F.row_number().over(w).cast("int").alias("seq"))


# Prices for the ST5/ST10 as-of queries: one price point per purchase
# event; ts-deduped so both engines agree on equal-timestamp semantics.
_PRICES_SQL = """
prices AS (
  SELECT ts AS pts, max(value) AS price
  FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY ts
)
"""


def _prices(spark, sf_dir):
    ev = events_enriched(spark, sf_dir)
    return (
        ev.filter((F.col("event_type") == "purchase")
                  & F.col("value").isNotNull())
        .groupBy(F.col("ts").alias("pts"))
        .agg(F.max("value").alias("price"))
    )


@register("st5_order_buffering", f"""
WITH {EV_SQL},
{_PRICES_SQL},
orders_cte AS (SELECT event_id, ts FROM ev WHERE event_type = 'click'),
j AS (
  SELECT o.event_id, o.ts, p.price
  FROM orders_cte o ASOF LEFT JOIN prices p ON o.ts >= p.pts
)
SELECT event_id,
       coalesce(price,
                (SELECT price FROM prices ORDER BY pts LIMIT 1))
         AS settle_price
FROM j
""")
def st5_order_buffering(spark, sf_dir):
    """ST5 order buffering until price known (MarketDataflow.java:190-268)
    as a batch as-of join: orders settle at the latest price at-or-before
    their time; orders before the FIRST price settle at that first price
    (the flush, lines 243-267)."""
    ev = events_enriched(spark, sf_dir)
    orders = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", F.lit(1).alias("_k"))
    prices = _prices(spark, sf_dir).select(
        F.col("pts").alias("ts"), "price", F.lit(1).alias("_k"))
    joined = asof.asof_join(orders, prices, ["_k"], "ts", "ts",
                            ["price"], fallback="first", scalable=True)
    return joined.select(
        "event_id", F.col("asof_price").alias("settle_price"))


@register("st10_price_delta", f"""
WITH {EV_SQL},
{_PRICES_SQL},
t AS (SELECT event_id, ts, value FROM ev WHERE event_type = 'click'),
j AS (
  SELECT t.event_id, t.value, p.price
  FROM t ASOF LEFT JOIN prices p ON t.ts >= p.pts
)
SELECT event_id, ROUND6(value - price) AS coins_delta
FROM j WHERE price IS NOT NULL
""")
def st10_price_delta(spark, sf_dir):
    """ST10 latest-price side input → P&L delta
    (MonkeyStockTrader.java:208-236): traderCoins − storedPrice, null
    (dropped) before any price arrives."""
    ev = events_enriched(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "value", F.lit(1).alias("_k"))
    prices = _prices(spark, sf_dir).select(
        F.col("pts").alias("ts"), "price", F.lit(1).alias("_k"))
    joined = asof.asof_join(clicks, prices, ["_k"], "ts", "ts", ["price"],
                            scalable=True)
    return joined.filter(F.col("asof_price").isNotNull()).select(
        "event_id",
        round_portable(F.col("value") - F.col("asof_price"))
        .alias("coins_delta"))


@register("st4_ema_combiner", f"""
WITH {EV_SQL},
tagged AS (
  SELECT ts, event_id,
         CAST([CASE WHEN event_type = 'click' THEN 0.0 ELSE 1.0 END,
               CASE WHEN event_type = 'click' THEN value / 100.0
                    ELSE value END] AS DOUBLE[]) AS u
  FROM ev WHERE event_type IN ('click', 'purchase')
    AND value IS NOT NULL
),
seqs AS (SELECT list(u ORDER BY ts, event_id) AS us FROM tagged),
folded AS (
  SELECT list_reduce(
    list_prepend(CAST([0.0, 0.0, 0.0, 0.0] AS DOUBLE[]), us),
    (acc, x) -> CASE WHEN x[1] = 0.0
      THEN [x[2], acc[2], acc[3], acc[4]]
      ELSE [acc[1],
            CASE WHEN acc[4] = 0.0 THEN x[2] + acc[1]
                 ELSE (x[2] + acc[1]) * CAST(0.1 AS DOUBLE)
                      + acc[2] * CAST(0.9 AS DOUBLE) END,
            x[2] + acc[1],
            1.0]
      END) AS st
  FROM seqs)
SELECT ROUND6(st[3]) AS new_value,
       ROUND6(st[2] / st[3]) AS forecast_mult
FROM folded WHERE st[4] = 1.0
""")
def st4_ema_combiner(spark, sf_dir):
    """ST4 EMA + latest-side-value combiner
    (SharePriceDataflow.java:227-266): stream1 (hype) updates hypePrice
    state; stream2 (base price) emits newValue = base + hype and
    forecast = ema/newValue with ema α=0.1 over newValue. Batch twin
    returns the final emitted values via a tagged-union fold.
    State vector: [hype, ema, lastNewValue, seenPrice].

    Oracle-twin ONLY: this form folds the whole tagged stream into one
    collect_list array on a single task (the reference's constant-key
    hotspot, faithfully). Nothing production-shaped routes through it —
    the streaming form of the same combiner is the ST4/ST10 tagged-union
    pattern in streaming/stateful.py with O(1) state."""
    ev = events_enriched(spark, sf_dir).filter(F.col("value").isNotNull())
    hype = ev.filter(F.col("event_type") == "click").select(
        "ts", "event_id", F.lit(0.0).alias("side"),
        (F.col("value") / 100.0).alias("v"))
    base = ev.filter(F.col("event_type") == "purchase").select(
        "ts", "event_id", F.lit(1.0).alias("side"), F.col("value").alias("v"))
    tagged = hype.unionByName(base).withColumn("_k", F.lit(1))
    init = F.struct(
        F.lit(0.0).alias("hype"), F.lit(0.0).alias("ema"),
        F.lit(0.0).alias("newv"), F.lit(0.0).alias("seen"))

    def step(acc, x):
        newv = x["v"] + acc["hype"]
        ema = F.when(acc["seen"] == 0.0, newv).otherwise(
            newv * F.lit(0.1) + acc["ema"] * F.lit(0.9))
        return F.struct(
            F.when(x["side"] == 0.0, x["v"]).otherwise(acc["hype"])
            .alias("hype"),
            F.when(x["side"] == 0.0, acc["ema"]).otherwise(ema).alias("ema"),
            F.when(x["side"] == 0.0, acc["newv"]).otherwise(newv)
            .alias("newv"),
            F.when(x["side"] == 0.0, acc["seen"]).otherwise(F.lit(1.0))
            .alias("seen"),
        )

    out = folds.fold_by_key(
        tagged, ["_k"], ["ts", "event_id"], ["side", "v"],
        lambda seq: F.aggregate(seq, init, step), "st")
    return out.filter(F.col("st.seen") == 1.0).select(
        round_portable(F.col("st.newv")).alias("new_value"),
        round_portable(F.col("st.ema") / F.col("st.newv"))
        .alias("forecast_mult"),
    )


# ===========================================================================
# Composed dataflow (SharePriceDataflow.java:45-135 batch twin) + hashing
# ===========================================================================

@register("dataflow_hype_influence", f"""
WITH {EV_SQL},
g AS (SELECT event_id, ts, {_HYPE_WORDS_SQL} AS ws FROM ev
      WHERE contains(lower(gibb_text), 'banana')),
fw AS (SELECT event_id, ts,
              list_filter(ws, w -> w IN ({_HYPE_POS_SQL})
                                OR w IN ({_HYPE_NEG_SQL})) AS vw
       FROM g),
x AS (SELECT event_id, ts, i AS pos,
             CASE WHEN vw[CAST(i AS INTEGER)] IN ({_HYPE_POS_SQL})
                  THEN 1 ELSE -1 END AS infl
      FROM fw, (SELECT unnest(generate_series(1, 1000)) AS i) s
      WHERE s.i <= len(vw))
SELECT event_id, CAST(pos AS INTEGER) AS pos,
       CAST(sum(infl) OVER (ORDER BY ts, event_id, pos
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
         AS hype_total
FROM x
""")
def dataflow_hype_influence(spark, sf_dir):
    """SharePriceDataflow branch B composed end-to-end
    (SharePriceDataflow.java:103-122): banana filter → hype pieces →
    ±0.01 influence → constant-key running sum. Integer influence summed
    exactly, scaled once at the end."""
    ev = events_enriched(spark, sf_dir)
    gibbs = ev.filter(stateless.banana_filter(F.lower(F.col("gibb_text"))))
    words = tx.tokens  # noqa: F841  (canonical tokenizer documented above)
    cleaned = F.regexp_replace(F.lower(F.col("gibb_text")), r"[^a-z \n]+", "")
    arr = F.split(F.regexp_replace(cleaned, r"\s+", " "), " ")
    vocab_only = F.filter(
        arr, lambda w: w.isin(*stateless.HYPE_POSITIVE)
        | w.isin(*stateless.HYPE_NEGATIVE))
    pieces = (
        gibbs.select("event_id", "ts", vocab_only.alias("vw"))
        .select("event_id", "ts", F.posexplode("vw").alias("pos0", "word"))
        .select(
            "event_id", "ts",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.when(F.col("word").isin(*stateless.HYPE_POSITIVE), 1)
            .otherwise(-1).alias("infl"),
        )
    )
    # constant-key running sum = the P11 single-partition hotspot; use
    # the scalable two-phase prefix sum (exact: +/-1 integers)
    out = windows.running_sum_scalable(
        pieces, [], ["ts", "event_id", "pos"], "infl", out="_rs")
    return out.select(
        "event_id", "pos",
        (F.col("_rs").cast("double") / 100.0).alias("hype_total"),
    )


@register("hash_family_check", f"""
SELECT doc_id,
       {sql_md5_long('text')} AS h60,
       {sql_universal_hash(sql_md5_long('text'), *hash_params(4)[3])} AS uh3
FROM documents
""")
def hash_family_check(spark, sf_dir):
    """The portable hash family itself, oracle-checked bit-for-bit
    (functions/hashing.py): md5→60-bit int and a universal-hash member."""
    docs = load(spark, sf_dir, "documents")
    a, b = hash_params(4)[3]
    h = md5_long(F.col("text"))
    return docs.select(
        "doc_id",
        h.alias("h60"),
        universal_hash(h, a, b).alias("uh3"),
    )


# ===========================================================================
# TPC-H-style batch parity (W5-class SQL surface + bench headliners)
# ===========================================================================

@register("tpch_q1", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 100.0 AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                           + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_disc_price,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                           * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_charge,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (exact-cents sums so shuffle order can't
    break parity)."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    charge = disc_price * (1.0 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents(F.col("l_quantity"))).cast("double") / 100.0)
            .alias("sum_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))).cast("double") / 100.0)
            .alias("sum_base_price"),
            (F.sum(_cents(disc_price)).cast("double") / 100.0)
            .alias("sum_disc_price"),
            (F.sum(_cents(charge)).cast("double") / 100.0).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("tpch_q3", """
WITH rev AS (
  SELECT l.l_orderkey,
         sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0
                        + 0.5) AS BIGINT)) AS cents
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_orderkey
)
SELECT l_orderkey, CAST(cents AS DOUBLE) / 100.0 AS revenue
FROM rev ORDER BY cents DESC, l_orderkey ASC LIMIT 10
""")
def tpch_q3(spark, sf_dir):
    """TPC-H Q3-style shipping priority: 3-way join, exact-cents revenue,
    deterministic top-10. Catalyst broadcast-joins the filtered customer
    dim automatically."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(
            _cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount")))
        ).alias("cents"))
    )
    return (
        rev.orderBy(F.col("cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey",
                (F.col("cents").cast("double") / 100.0).alias("revenue"))
    )


@register("tpch_q6", """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24.0
""")
def tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecasting revenue change: pure scan+filter+agg — the
    pushdown/codegen benchmark."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg((F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount")))
              .cast("double") / 100.0).alias("revenue"))
    )


@register("tpch_q5ish", """
SELECT n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0
                           + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def tpch_q5ish(spark, sf_dir):
    """Q5-style multi-dim star join — broadcast the three dimension
    tables, one shuffle for the final group-by."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))))
             .cast("double") / 100.0).alias("revenue"))
    )


# ===========================================================================
# LLM-pipeline layer: dedup / similarity / text / multimodal
# ===========================================================================

# Near-dup corpus: documents plus mutated copies (doc_id+10000, one word
# appended) so the dedup operators demonstrably FIND the planted pairs.
_DOCS2_SQL = """
docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, (text || ' qqq') AS text
  FROM documents WHERE doc_id < 50
)
"""


def _docs2(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 10000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" qqq")).alias("text"))
    )
    return docs.unionByName(mutated)


@register("dedup_exact", f"""
WITH {_DOCS2_SQL}
SELECT md5(text) AS content_hash,
       min(doc_id) AS kept_id,
       CAST(count(*) AS INTEGER) AS n_dupes
FROM docs2 GROUP BY 1
""")
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy."""
    return dd.exact_dedup(_docs2(spark, sf_dir))


def _with_docs2(sql: str) -> str:
    """Prepend the docs2 CTE to a generated oracle that starts with WITH."""
    body = sql.strip()
    assert body.startswith("WITH"), body[:40]
    return "WITH " + _DOCS2_SQL.strip() + ",\n" + body[len("WITH"):].lstrip()


@register("dedup_minhash_lsh", _with_docs2(dd.sql_minhash_lsh_pairs("docs2")))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash signatures + banded LSH candidate pairs (O(candidates)
    equi-join, never all-pairs) with signature-estimated Jaccard."""
    return dd.minhash_lsh_pairs(_docs2(spark, sf_dir))


@register("dedup_simhash", _with_docs2(dd.sql_simhash("docs2")))
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints (32-bit, portable md5 bit-votes)."""
    return dd.simhash(_docs2(spark, sf_dir))


@register("dedup_ngram_jaccard",
          _with_docs2(dd.sql_ngram_jaccard_pairs("docs2", threshold=0.5)))
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification over pairs sharing an n-gram
    (blocking-stage composition documented in functions/dedup.py)."""
    return dd.ngram_jaccard_pairs(_docs2(spark, sf_dir), threshold=0.5)


@register("dedup_containment", """
WITH docs3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id,
         substr(text, 1, CAST(n_chars // 2 AS INT)) AS text
  FROM documents WHERE doc_id < 30
),
""" + dd.sql_containment_pairs("docs3", threshold_pct=80, max_df=100)
          .strip()[len("WITH"):].lstrip())
def dedup_containment(spark, sf_dir):
    """Asymmetric near-containment detection (|∩|/min ≥ 0.8): catches
    the excerpt/quote class of training-set duplication that Jaccard
    structurally misses (a short doc pasted into a long one). Probe
    corpus = documents plus the FIRST HALF of 30 of them as synthetic
    excerpts — each excerpt must surface as contained in its source.
    Hot-gram cap max_df=100 bounds the self-join fan-out (the 100 TB
    guard); verdicts compare integer-cross-multiplied. See
    functions/dedup.py:containment_pairs (Broder 1997)."""
    docs = load(spark, sf_dir, "documents")
    excerpts = (
        docs.filter(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 20000).alias("doc_id"),
                F.expr("substr(text, 1, CAST(CAST(n_chars AS DOUBLE) / 2 "
                       "AS INT))").alias("text")))
    corpus = docs.select("doc_id", "text").unionByName(excerpts)
    return dd.containment_pairs(corpus, threshold_pct=80, max_df=100)


@register("dedup_lsh_recall", f"""
WITH truth AS (
  SELECT id_a, id_b FROM (
    {_with_docs2(dd.sql_ngram_jaccard_pairs("docs2", threshold=0.5))}
  )),
cand AS (
  SELECT id_a, id_b FROM (
    {_with_docs2(dd.sql_minhash_lsh_pairs("docs2"))}
  )),
inter AS (
  SELECT t.id_a, t.id_b FROM truth t
  JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM inter) AS BIGINT) AS n_found,
       CAST((SELECT count(*) FROM inter) AS DOUBLE)
         / (SELECT count(*) FROM truth) AS recall,
       CAST((SELECT count(*) FROM inter) AS DOUBLE)
         / (SELECT count(*) FROM cand) AS precision
""")
def dedup_lsh_recall(spark, sf_dir):
    """LSH quality evaluation — the dedup-family mirror of
    sim_ivf_recall: MinHash-LSH candidate pairs measured against the
    exact n-gram-Jaccard ≥ 0.5 ground truth, reporting recall (what
    fraction of true near-dup pairs the banded blocking surfaces)
    and precision (what fraction of candidates are real). This is
    the dial-tuning report a 100 TB dedup run produces on a SAMPLE
    before committing band/row parameters to the full corpus: both
    sides are the existing O(candidates) plans (no all-pairs
    anywhere), the intersection is a pair-keyed equi-join, and the
    five counts collapse to one row. Floats are two final divisions
    of exact counts."""
    from ..operators import cache
    # persist both pair frames: each feeds two sinks (intersection +
    # its own count) — unpersisted, the gram/signature pipelines ran
    # twice each (persist_audit)
    truth = cache.maybe_persist(
        dd.ngram_jaccard_pairs(_docs2(spark, sf_dir), threshold=0.5)
        .select("id_a", "id_b"))
    cand = cache.maybe_persist(
        dd.minhash_lsh_pairs(_docs2(spark, sf_dir))
        .select(F.col("id_a").alias("_ca"), F.col("id_b").alias("_cb")))
    inter = truth.join(
        cand, (F.col("id_a") == F.col("_ca"))
        & (F.col("id_b") == F.col("_cb")), "left_semi")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    ni = inter.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        nt.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(ni))
        .select("n_truth", "n_candidates", "n_found",
                (F.col("n_found").cast("double")
                 / F.col("n_truth").cast("double")).alias("recall"),
                (F.col("n_found").cast("double")
                 / F.col("n_candidates").cast("double"))
                .alias("precision"))
    )


_QUERY_IDS = list(range(10))
# The PQ recall dials use a 100-query truth set: recall@5 over 10
# queries is a 50-sample statistic whose noise (~±0.1) swamps the
# gap between two codebooks of similar quality — it measured the
# TRAINED codebook (30% lower quantization error) as WORSE than the
# sampled one. 500 samples resolve the ordering. The truth-set side
# stays query-side-broadcast (100 x 64 doubles ~ 51 KB), so the
# corpus still never shuffles; smallest SF has 500 vectors, so ids
# 0..99 exist at every scale.
_RECALL_QUERY_IDS = list(range(100))
_EMB_DIM = 64
# SemDeDup cluster count — the pair-fan-out dial. K is a FUNCTION of
# corpus size (n // target-cluster-size, floor 8), not a constant: the
# O(sum cluster_size^2) candidate bound is only structural if average
# cluster size stays ~constant as the corpus grows — the same reason
# max_df is a hard cap for grams, not advice. 64 keeps K at the
# round-9 measured sweet spot (K=31 at sf0.1's 2000 vectors) while
# sf0.01's 500 vectors now train 8 clusters instead of an
# over-fragmented 32.
_SEMDEDUP_TARGET = 64


def _semdedup_k(n: int) -> int:
    return max(8, n // _SEMDEDUP_TARGET)


_SEMDEDUP_K_SQL = (f"(SELECT CAST(greatest(8, count(*) // "
                   f"{_SEMDEDUP_TARGET}) AS BIGINT) FROM embeddings)")


@register("sim_cosine_topk",
          sim.sql_cosine_topk("embeddings", _QUERY_IDS, _EMB_DIM, k=5))
def sim_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for 10 query vectors (broadcast
    query side; corpus never shuffles)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, _QUERY_IDS, k=5)


@register("sim_lsh_ann",
          sim.sql_lsh_ann_topk("embeddings", _QUERY_IDS, _EMB_DIM, k=5))
def sim_lsh_ann(spark, sf_dir):
    """Sign-LSH bucketed ANN top-5 — the O(candidates) scale path."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.lsh_ann_topk(emb, _QUERY_IDS, _EMB_DIM, k=5)


@register("text_token_stats", tx.sql_token_stats())
def text_token_stats(spark, sf_dir):
    """Whitespace + BPE-ish token counting."""
    return tx.token_stats(load(spark, sf_dir, "documents"))


@register("text_quality", tx.sql_quality_stats())
def text_quality(spark, sf_dir):
    """Quality features: length/punct/stopword ratios + composite score."""
    return tx.quality_stats(load(spark, sf_dir, "documents"))


@register("text_gopher_rules", tx.sql_gopher_rules())
def text_gopher_rules(spark, sf_dir):
    """Gopher §A1.1 document-rule panel: per-doc boolean verdicts
    (word count, mean word length, symbol ratio, alphabetic-word
    ratio, common-word presence, bullet/ellipsis line fractions) and
    the conjunctive keep flag — all thresholds compared in the
    integer domain, one tokenizer pass, pure map-side scan."""
    return tx.gopher_rules(load(spark, sf_dir, "documents"))


@register("text_line_dedup", tx.sql_line_dedup())
def text_line_dedup(spark, sf_dir):
    """CCNet/RefinedWeb corpus-level line dedup: lines occurring >= 2
    times across the corpus are boilerplate, dropped from every doc;
    survivors re-join in original order. Dup-set-only join back (far
    smaller than the line fact), doc-keyed rebuild without windows."""
    return tx.line_dedup(load(spark, sf_dir, "documents"))


@register("text_dup_ngram_fraction", tx.sql_dup_ngram_fraction())
def text_dup_ngram_fraction(spark, sf_dir):
    """Lee et al. 2021 cross-document duplicated-5-gram fraction per
    doc + integer-domain 20% keep verdict — the corpus-level
    memorization signal (repetition_stats is within-doc)."""
    return tx.dup_ngram_fraction(load(spark, sf_dir, "documents"))


_stream_twin("streaming_gopher_rules", "text_gopher_rules", tx.gopher_rules)


@register("text_length_log2_histogram", f"""
WITH t AS (
  SELECT CAST(len({tx.sql_tokens('text')}) AS BIGINT) AS n
  FROM documents)
SELECT CAST(CASE WHEN n = 0 THEN 0
            ELSE length(bin(n)) END AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n) AS BIGINT) AS min_tokens,
       CAST(max(n) AS BIGINT) AS max_tokens,
       CAST(sum(n) AS BIGINT) AS total_tokens
FROM t GROUP BY 1
""")
def text_length_log2_histogram(spark, sf_dir):
    """Exponential (power-of-two) token-length histogram — the
    length-distribution summary a packing planner reads to size
    context windows: bucket = bit length of the token count (the HLL
    rho trick reused: length(bin(n)) ≡ ⌊log₂ n⌋+1, pure integer, no
    float log), with per-bucket doc counts, extremes, and token
    mass. Exponential buckets stay bounded (~60) for ANY corpus —
    unlike equi-width bins, no width parameter to mis-set at 100 TB.
    One tokenizer pass, one bounded-key map-side-combined rollup."""
    d = load(spark, sf_dir, "documents").select(
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n"))
    bucket = F.when(F.col("n") == 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col("n")))).cast("long")
    return (
        d.groupBy(bucket.alias("log2_bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n").alias("min_tokens"),
             F.max("n").alias("max_tokens"),
             F.sum("n").alias("total_tokens"))
    )


@register("text_lang_id", tx.sql_lang_id())
def text_lang_id(spark, sf_dir):
    """Stopword-vote language ID with deterministic tie-break."""
    return tx.lang_id(load(spark, sf_dir, "documents"))


@register("text_fingerprint", tx.sql_fingerprint())
def text_fingerprint(spark, sf_dir):
    """Order-sensitive rolling document fingerprint (portable fold)."""
    return tx.fingerprint(load(spark, sf_dir, "documents"))


@register("mm_dedup_content_hash", """
WITH _mc AS (
  SELECT doc_id AS media_id, md5(text) AS content_hash FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS media_id, md5(text) AS content_hash
  FROM documents WHERE doc_id < 40
)
SELECT content_hash, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(media_id) AS BIGINT) AS keep_id
FROM _mc GROUP BY content_hash HAVING count(*) > 1
""")
def mm_dedup_content_hash(spark, sf_dir):
    """Exact multimodal dedup by payload hash — the first pass every
    image/audio corpus runs (identical bytes re-crawled under
    different ids): md5 over the opaque binary payload (the docs
    table's text bytes stand in for the blob, like the rest of the
    mm family), one hash-keyed groupBy, keep = min id. 40 planted
    byte-identical copies must collapse onto their originals. At
    100 TB this is the cheapest dedup tier — hash computed map-side
    next to the bytes, only (hash, id) pairs shuffle, payloads never
    move."""
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.md5(F.col("text").cast("binary")).alias("content_hash")
    ).unionByName(
        docs.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 10000).alias("media_id"),
            F.md5(F.col("text").cast("binary")).alias("content_hash")))
    return (media.groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("media_id").alias("keep_id"))
            .filter(F.col("n_copies") > 1))


# aHash near-dup blocking: 4 x 16-bit bands over the 64-bit hash.
# A band match is the candidate trigger (same banded-equi-join shape
# as MinHash LSH: recall = any of 4 bands identical, so hamming <= 3
# is guaranteed-caught by pigeonhole, larger distances best-effort —
# the documented LSH trade). Hot buckets (e.g. the all-dark band every
# near-black image shares) are capped like dedup's max_df.
_PHASH_HAM_T = 8
_PHASH_MAX_BUCKET = 64

_PHASH_SQL = f"""
WITH _mp_docs AS (
  SELECT doc_id AS media_id,
         regexp_replace(lower(coalesce(text, '')),
                        '[^a-z0-9 ]+', '', 'g') AS c0
  FROM documents
  UNION ALL
  SELECT doc_id + 20000,
         regexp_replace(lower(coalesce(text, '') || ' qq'),
                        '[^a-z0-9 ]+', '', 'g')
  FROM documents WHERE doc_id < 40
),
{mm.sql_phash_pgm("SELECT media_id, c0 AS c, length(c0) AS n"
                  " FROM _mp_docs")},
_mp_bands AS (
  SELECT media_id, phash, k.k AS k,
         (phash >> (16 * k.k)) & 65535 AS bv
  FROM _ph, (SELECT unnest(generate_series(0, 3)) AS k) k
),
_mp_ok AS (
  SELECT k, bv FROM _mp_bands GROUP BY k, bv
  HAVING count(*) <= {_PHASH_MAX_BUCKET}
),
_mp_pairs AS (
  SELECT DISTINCT a.media_id AS keep_id, a.phash AS pa,
                  b.media_id AS dup_id, b.phash AS pb
  FROM _mp_bands a
  JOIN _mp_ok o ON o.k = a.k AND o.bv = a.bv
  JOIN _mp_bands b ON b.k = a.k AND b.bv = a.bv
   AND a.media_id < b.media_id
)
SELECT keep_id, dup_id,
       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM _mp_pairs
WHERE bit_count(xor(pa, pb)) <= {_PHASH_HAM_T}
"""

# Same blocked near-dup pipeline, but the hash rides the baseline-JPEG
# codec: aHash over the DECODED tile grid (width JPEG_BLOCKS_W), which
# the oracle reproduces from the text because DC-only JPEG round-trips
# exactly.
_JPHASH_SQL = f"""
WITH _mp_docs AS (
  SELECT doc_id AS media_id,
         regexp_replace(lower(coalesce(text, '')),
                        '[^a-z0-9 ]+', '', 'g') AS c0
  FROM documents
  UNION ALL
  SELECT doc_id + 20000,
         regexp_replace(lower(coalesce(text, '') || ' qq'),
                        '[^a-z0-9 ]+', '', 'g')
  FROM documents WHERE doc_id < 40
),
{mm.sql_phash_pgm(
    "SELECT media_id,"
    f" substring(c0, 1, {mm.RASTER_MAX_CHARS}) AS c,"
    f" least(length(c0), {mm.RASTER_MAX_CHARS}) AS n"
    " FROM _mp_docs", width=mm.JPEG_BLOCKS_W)},
_mp_bands AS (
  SELECT media_id, phash, k.k AS k,
         (phash >> (16 * k.k)) & 65535 AS bv
  FROM _ph, (SELECT unnest(generate_series(0, 3)) AS k) k
),
_mp_ok AS (
  SELECT k, bv FROM _mp_bands GROUP BY k, bv
  HAVING count(*) <= {_PHASH_MAX_BUCKET}
),
_mp_pairs AS (
  SELECT DISTINCT a.media_id AS keep_id, a.phash AS pa,
                  b.media_id AS dup_id, b.phash AS pb
  FROM _mp_bands a
  JOIN _mp_ok o ON o.k = a.k AND o.bv = a.bv
  JOIN _mp_bands b ON b.k = a.k AND b.bv = a.bv
   AND a.media_id < b.media_id
)
SELECT keep_id, dup_id,
       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM _mp_pairs
WHERE bit_count(xor(pa, pb)) <= {_PHASH_HAM_T}
"""


def _planted_suffix_corpus(docs):
    """documents plus 40 suffix-perturbed copies (doc_id+20000,
    ' qq' appended) — the shared planted-near-dup corpus of the
    image/video dedup entries (the audio entry plants a
    length-preserving PREFIX instead; see its docstring)."""
    return docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.concat(F.coalesce(F.col("text"), F.lit("")),
                     F.lit(" qq")).alias("text")))


def _banded_near_dups(hashed, hcol, nbands, shift, mask_fn, cap, ham_t):
    """Shared banded-LSH near-dup join over a (media_id, <hash>)
    frame: explode the hash into ``nbands`` band keys (band k =
    (hash >> shift*k) & mask_fn(k)), cap hot buckets at ``cap``
    (the max_df analog), equi-join band-mates with media_id ordering,
    and verify candidates with one JVM-side xor+popcount. Returns
    DISTINCT (keep_id, dup_id, hamming) pairs within ``ham_t``.
    Pigeonhole recall: any pair within Hamming distance nbands-1
    shares at least one band exactly. Used by mm_phash_dedup,
    mm_audio_dedup, and the multimodal curation funnel — one
    implementation so a cap/join fix can't drift between them."""
    bands = hashed.select(
        "media_id", hcol,
        F.explode(F.array(*[
            F.struct(F.lit(k).cast("int").alias("k"),
                     F.shiftright(hcol, shift * k)
                     .bitwiseAND(F.lit(mask_fn(k))).alias("bv"))
            for k in range(nbands)])).alias("_e")
    ).select("media_id", hcol, F.col("_e.k").alias("k"),
             F.col("_e.bv").alias("bv"))
    ok = (bands.groupBy("k", "bv")
          .agg(F.count(F.lit(1)).alias("_n"))
          .filter(F.col("_n") <= cap).select("k", "bv"))
    a = (bands.join(ok, ["k", "bv"])
         .select("k", "bv", F.col("media_id").alias("keep_id"),
                 F.col(hcol).alias("_ha")))
    b = bands.select("k", "bv", F.col("media_id").alias("dup_id"),
                     F.col(hcol).alias("_hb"))
    ham = F.bit_count(F.col("_ha").cast("long")
                      .bitwiseXOR(F.col("_hb").cast("long")))
    return (a.join(b, ["k", "bv"])
            .filter(F.col("keep_id") < F.col("dup_id"))
            .select("keep_id", "dup_id", "_ha", "_hb").distinct()
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= ham_t)
            .select("keep_id", "dup_id", "hamming"))


@register("mm_phash_dedup", _PHASH_SQL)
def mm_phash_dedup(spark, sf_dir):
    """REAL perceptual-hash near-dup detection over decoded images —
    the multimodal analog of MinHash-LSH text dedup: every P5 payload
    is genuinely parsed and aHashed (8x8 integer resample, strict
    64*p > total bit rule — functions/multimodal.py phash_pgm), and
    near-dups are pairs within Hamming distance 8, found WITHOUT an
    all-pairs scan via a 4x16-bit banded equi-join on the hash
    (pigeonhole: any pair within distance 3 shares a band exactly;
    beyond that, best-effort — the standard LSH recall trade, and the
    oracle implements the identical blocking so parity is by
    construction). 40 planted perturbed copies (' qq' appended)
    exercise the near-but-not-equal path.

    100 TB shape: the hash is computed map-side next to the payload
    bytes (blobs never shuffle — only 8-byte hashes + band keys do);
    candidates are O(band collisions) with hot buckets capped at
    {_PHASH_MAX_BUCKET} (the max_df analog — an all-black-thumbnail
    band bucket would otherwise go quadratic); the Hamming check is
    one JVM-side xor+popcount per candidate."""
    from ..operators import cache

    docs = load(spark, sf_dir, "documents")
    corpus = _planted_suffix_corpus(docs)
    # persist the hash table (FORCED: mapInPandas outputs carry a
    # bogus Catalyst size estimate, so the size gate silently
    # no-opped and all three consumers — bucket counts + both join
    # arms — re-ran the payload DECODE; found by tools/persist_audit)
    ph = cache.maybe_persist(
        mm.phash_pgm(mm.pgm_media_from_documents(corpus)), force=True)
    return _banded_near_dups(ph, "phash", 4, 16, lambda k: 65535,
                             _PHASH_MAX_BUCKET, _PHASH_HAM_T)


@register("mm_jpeg_phash_dedup", _JPHASH_SQL)
def mm_jpeg_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-dup detection THROUGH the compressed
    codec: the planted corpus is encoded as genuine baseline JPEGs,
    every payload runs the full T.81 decode (functions/jpeg.py), and
    the aHash is computed over the RECOVERED tile grid — so the whole
    banded-LSH near-dup pipeline (4x16-bit band equi-join, hot-bucket
    cap, xor+popcount verify, identical to mm_phash_dedup) now
    exercises a real compressed-codec round trip per image. The
    oracle reproduces the hash from the text because DC-only JPEG is
    lossless; any entropy/IDCT drift in the decoder flips the hash of
    every image. Same 100 TB shape: hashes are computed map-side next
    to the payload bytes, only 8-byte hashes + band keys shuffle,
    candidates are O(band collisions) with hot buckets capped."""
    from ..operators import cache

    docs = load(spark, sf_dir, "documents")
    corpus = _planted_suffix_corpus(docs)
    ph = cache.maybe_persist(
        mm.phash_jpeg(mm.jpeg_media_from_documents(corpus)), force=True)
    return _banded_near_dups(ph, "phash", 4, 16, lambda k: 65535,
                             _PHASH_MAX_BUCKET, _PHASH_HAM_T)


@register("mm_decode_pgm", mm.sql_decode_pgm("documents"))
def mm_decode_pgm(spark, sf_dir):
    """REAL multimodal decode — no codec library required: every
    document is encoded as a VALID binary NetPBM P5 image (pure Column
    expressions: header + the ASCII-scrubbed text as raster bytes,
    zero-padded), and the decode step genuinely PARSES those bytes —
    magic, whitespace-separated dims, maxval, numpy raster — inside
    mapInPandas, then extracts exact integer features (8 per-band
    micro-means over the flat raster, exploded to one scalar row per
    band so every output column is hashable). This retires the 'decode
    is a stub' caveat for the uncompressed-raster case; the
    compressed-codec rows moved to REAL in later rounds (baseline +
    progressive JPEG, PNG); MP4/FLAC stay honestly stubbed in
    decode_media. The DuckDB twin
    never touches the binary: it rebuilds the raster arithmetically
    from the same cleaned text (ASCII ==> byte == codepoint, padding
    == 0), so a header-parse or reshape bug on the Spark side breaks
    the hash. Payloads never shuffle; Arrow batches bound memory.
    See functions/multimodal.py:pgm_media_from_documents/_parse_p5."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_pgm(mm.pgm_media_from_documents(docs))


def _jpeg_features(docs):
    return mm.decode_jpeg(mm.jpeg_media_from_documents(docs))


@register("mm_decode_jpeg", mm.sql_decode_jpeg("documents"))
def mm_decode_jpeg(spark, sf_dir):
    """REAL compressed-codec decode — baseline JPEG in pure numpy, no
    codec library: every document is encoded as a genuine baseline
    JPEG (one block-constant 8x8 tile per cleaned character, unit
    quant tables — functions/jpeg.py encode_dc_jpeg), and the decode
    runs the FULL T.81 path — marker walk, DQT/DHT parsing, canonical
    Huffman entropy decode, dequantize, zigzag, IDCT, level shift —
    inside mapInPandas, then extracts exact integer band features
    over the recovered tile grid (one scalar row per band). DC-only
    blocks round-trip losslessly, so the DuckDB twin computes the
    identical features straight from the cleaned text without
    touching the binary: any bug in the Huffman tables, zigzag
    order, predictor, or IDCT flips the hash. The decoder itself
    handles arbitrary baseline JPEGs (AC coefficients, 4:2:0/4:4:4
    color) and is cross-validated against an independent encoder on
    random rasters in tests/test_jpeg.py. This closed the
    compressed-codec gap the round-12 verdict listed; round 15 added
    the progressive (SOF2) sibling entry (MP4 / FLAC remain honestly
    out of scope). Malformed
    payloads drop per row; payloads never shuffle."""
    return _jpeg_features(load(spark, sf_dir, "documents"))


@register("mm_decode_jpeg_progressive", mm.sql_decode_jpeg("documents"))
def mm_decode_jpeg_progressive(spark, sf_dir):
    """PROGRESSIVE JPEG decode (round 15) — SOF2 is the MAJORITY
    encoding of web-crawled JPEGs, so the baseline-only decoder was
    silently dropping most of the modality (the r14 verdict's largest
    codec gap): every document becomes a genuine six-scan progressive
    JPEG (DC first at point transform 4, four one-bit DC refinement
    scans, an all-EOB-run AC scan —
    functions/jpeg_progressive.py:encode_dc_jpeg_progressive), and the
    decode runs the full Annex G path — multi-scan marker walk,
    spectral-band validation, shifted-diff DC decode, per-scan
    refinement bit appends, EOB-run AC decode — through the SOF0/SOF2
    dispatcher (decode_jpeg_any) inside mapInPandas, then extracts the
    SAME integer band features as mm_decode_jpeg. DC reconstruction is
    bit-exact (arithmetic shift + successive ORs), so sql_decode_jpeg
    stays the oracle and any scan-sequencing or refinement bug flips
    the hash. The decoder handles arbitrary progressive JPEGs
    (spectral selection, successive approximation on AC with
    correction bits, interleaved or single-component DC scans,
    restarts) and is cross-validated against an independent Annex-G
    encoder on random rasters in tests/test_jpeg_progressive.py —
    including a 4:2:0 color frame asserted bit-equal to the baseline
    decoder on the same quantized coefficients. Malformed payloads
    drop per row; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_jpeg(mm.jpeg_progressive_media_from_documents(docs),
                          progressive=True)


@register("mm_resize_pgm", mm.sql_resize_pgm("documents"))
def mm_resize_pgm(spark, sf_dir):
    """REAL image resize on the decoded P5 raster: nearest-neighbor to
    16x16 with the exact integer sampling grid src = (dst * size) //
    16, as numpy fancy-indexing over the genuinely parsed payload —
    the actual pixel transform, unlike mm_resize_plan's metadata-only
    scale math. The emitted checksum is the int64 sum of the resized
    raster, so the oracle (which recomputes every sampled pixel from
    the cleaned text) pins each of the 256 sampled positions — an
    off-by-one in the grid or a transposed reshape flips the hash."""
    docs = load(spark, sf_dir, "documents")
    return mm.resize_pgm(mm.pgm_media_from_documents(docs))


def _pgm_frame_sample(docs):
    return mm.frame_sample_pgm(mm.pgm_stream_from_documents(docs))


@register("mm_frame_sample", mm.sql_frame_sample("documents"))
def mm_frame_sample(spark, sf_dir):
    """REAL video frame sampling — the path mm_frame_plan only planned:
    every document becomes a VALID concatenated-P5 frame stream
    (ffmpeg's image2pipe pgm format — back-to-back 8x8 frames, pure
    Column expressions), and the sampler genuinely WALKS the stream
    inside mapInPandas: each frame's header is parsed and the cursor
    advanced by the parsed raster size (frame boundaries discovered by
    parsing, never assumed), keeping every 2nd frame and emitting its
    exact integer mean. Unsampled frames are skipped by header
    arithmetic without materializing their rasters — the
    sparse-decode property that makes k-sparse frame sampling ~k×
    cheaper than a full decode at 100 TB. Payloads never shuffle;
    malformed streams drop per row. The DuckDB twin rebuilds each
    frame's bytes arithmetically from the cleaned text, so a cursor
    bug (off-by-one across a frame boundary) breaks the hash.
    See functions/multimodal.py:pgm_stream_from_documents/
    frame_sample_pgm."""
    return _pgm_frame_sample(load(spark, sf_dir, "documents"))


_stream_twin("streaming_frame_sample", "mm_frame_sample", _pgm_frame_sample)


@register("mm_decode_png",
          mm.sql_decode_pgm("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_png(spark, sf_dir):
    """REAL lossless-codec decode — PNG via stdlib zlib, no codec
    library: each document's PGM-layout raster is compressed into a
    genuine 8-bit grayscale PNG (functions/png.py), and the decode
    walks the chunk list with CRC verification, inflates the IDAT
    stream, reconstructs every scanline filter (None/Sub/Up/Average/
    Paeth — cross-validated against an independent filtered encoder
    in tests/test_png.py), and emits the SAME integer band features
    as mm_decode_pgm. PNG is lossless, so the oracle is sql_decode_pgm
    with only the builders' RASTER_MAX_CHARS cap applied — the Spark
    side merely routes the identical raster through a genuinely
    different codec; any inflate/filter/CRC bug flips the hash.
    Malformed payloads drop per row; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_png(mm.png_media_from_documents(docs))


def _png_rgb_features(docs):
    return mm.decode_png_rgb_features(mm.png_rgb_media_from_documents(docs))


@register("mm_decode_png_rgb",
          mm.sql_decode_png_rgb("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_png_rgb(spark, sf_dir):
    """TRUECOLOR PNG decode (round 14) — real PNGs are overwhelmingly
    color type 2, so the grayscale-only decoder left the common case
    on the floor: each document becomes a genuine 8-bit RGB PNG
    (channels derived deterministically from the text raster —
    functions/multimodal.py:_rgb_channels), and the decode
    reconstructs every scanline filter with the 3-byte pixel taps RFC
    2083 §6.2 prescribes (cross-validated against an independent
    filtered RGB encoder in tests/test_png.py), emitting per-CHANNEL
    integer band features. Lossless, so the oracle recomputes all
    three channels from the cleaned text and any filter-tap/stride/
    channel-interleave bug flips the hash. Malformed payloads drop
    per row; payloads never shuffle (mapInPandas on the builder's
    partitioning)."""
    return _png_rgb_features(load(spark, sf_dir, "documents"))


@register("mm_decode_png_palette",
          mm.sql_decode_png_rgb("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_png_palette(spark, sf_dir):
    """PALETTE + Adam7 PNG decode (round 15) — color type 3 is the
    other big slice of real crawl images (icons, screenshots, older
    web), and interlacing is orthogonal container structure the
    decoder must also handle: each document becomes a genuine 8-bit
    palette PNG whose 256-entry PLTE maps index v to exactly the
    truecolor derivations (R = v, G = 255 - v, B = (v*37) % 256), with
    every ODD doc_id Adam7-interlaced (seven independently-filtered
    pass sub-images scattered on the 8x8 grid — functions/png.py).
    The decode walks chunks with CRC checks, captures the PLTE,
    inflates, reconstructs every scanline filter per pass,
    de-interlaces, maps indices through the palette, and emits the
    SAME per-channel band features as mm_decode_png_rgb — so the two
    entries share one oracle while exercising disjoint container
    paths (an index/PLTE bug or a pass-geometry bug flips the hash;
    a cross-contamination bug would flip BOTH entries differently).
    Cross-validated against an independent Adam7+filtered encoder in
    tests/test_png.py. Malformed payloads drop per row; payloads
    never shuffle (mapInPandas on the builder's partitioning)."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_png_palette_features(
        mm.png_palette_media_from_documents(docs))


@register("mm_decode_png_pal4",
          mm.sql_decode_png_rgb("documents", cap=mm.RASTER_MAX_CHARS,
                                vmap="(({v}) % 16) * 17"))
def mm_decode_png_pal4(spark, sf_dir):
    """SUB-BYTE palette PNG decode (round 15) — the classic icon
    profile (16 colors, 4 bits per pixel, two pixels per byte): each
    document becomes a genuine depth-4 palette PNG (index = byte %
    16; the 16-entry PLTE holds the truecolor derivations of u =
    i*17, spanning 0..255 exactly), odd doc_ids Adam7-interlaced —
    sub-byte PASS scanlines pack independently, so the depth work and
    the interlace geometry compose. The decode unfilters the packed
    BYTES (left tap = 1 byte regardless of depth, RFC 2083 §2.3),
    unpacks MSB-first 4-bit indices per scanline discarding pad bits,
    de-interlaces, maps through the PLTE, and emits the same
    per-channel band features — the oracle is sql_decode_png_rgb with
    v -> (v % 16) * 17, so a bit-order, stride-padding, or
    pass-geometry bug flips the hash. Cross-validated against an
    independent packed+filtered encoder in tests/test_png.py;
    malformed payloads drop per row; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_png_palette_features(
        mm.png_pal4_media_from_documents(docs))


@register("mm_decode_png_rgba",
          mm.sql_decode_png_rgba("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_png_rgba(spark, sf_dir):
    """RGBA PNG decode (round 16) — color type 6 is the DOMINANT
    modern-web profile, the largest codec gap the r15 verdict named:
    each document becomes a genuine 8-bit RGBA PNG (RGB = the
    truecolor derivations, A = (v*29 + 3) % 256; odd doc_ids
    Adam7-interlaced with 4-byte pixel taps per pass), and the decode
    walks chunks with CRC checks, inflates, reconstructs every filter
    at the 4-byte stride, de-interlaces, then COMPOSITES RGB over
    white with the engine's documented exact-integer rule
    (multimodal.composite_over_white: (c*a + 255*(255-a) + 127)//255)
    and emits alpha as channel 3 — so the oracle pins the alpha
    arithmetic itself, not just the container walk. Cross-validated
    against an independent filtered encoder (tests/test_png.py).
    Malformed payloads drop per row; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_png_rgba_features(
        mm.png_rgba_media_from_documents(docs))


def _gif_features(docs):
    return mm._rgb_png_features(mm.gif_media_from_documents(docs),
                                "decode_gif_rgb", module="gif")


@register("mm_decode_gif",
          mm.sql_decode_png_rgb("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_gif(spark, sf_dir):
    """GIF decode (round 16) — a genuinely new container AND a new
    compression algorithm: each document becomes a single-frame
    GIF89a whose 256-entry global color table holds the truecolor
    channel derivations, entropy-coded with REAL variable-width LZW
    (greedy longest-match dictionary, width bumps, clear/reset cycles
    at the 4096 ceiling — functions/gif.py, written from the GIF89a
    spec + Welch 1984), every odd doc_id 4-pass GIF-interlaced. The
    decode walks the block grammar (extensions skipped by sub-block
    chains, Graphic Control transparency honored), LZW-decompresses,
    de-interlaces, maps indices through the color table, and emits
    the SAME per-channel band features as the truecolor/palette PNG
    entries — so sql_decode_png_rgb is shared across THREE container
    families (PNG type 2, PNG type 3, GIF) and an LZW, block-walk, or
    pass-geometry bug flips this hash while leaving the others green.
    Cross-validated against an independent clear-code-per-symbol LZW
    encoder in tests/test_gif.py. Malformed payloads drop per row;
    payloads never shuffle."""
    return _gif_features(load(spark, sf_dir, "documents"))


def _gif_frame_sample(docs):
    return mm.gif_frame_sample(mm.gif_anim_media_from_documents(docs))


@register("mm_gif_frame_sample", mm.sql_frame_sample("documents"))
def mm_gif_frame_sample(spark, sf_dir):
    """ANIMATED-GIF frame sampling (round 16): each document becomes a
    real multi-frame GIF89a (full-rect frames over the identity-gray
    global table, per-frame Graphic Control Extensions, real LZW per
    frame — the same frame layout as the P5 video stream, so
    sql_frame_sample is SHARED across both video containers), and the
    sampler walks the block grammar LZW-decoding ONLY every 2nd frame
    — unsampled frames skip by sub-block length bytes without entering
    the entropy coder, the sparse-decode property that makes 1/k-rate
    sampling ~k x cheaper at 100 TB (the P5 path's header-arithmetic
    skip, now on a compressed container). A cursor bug, an LZW bug, or
    a GCE mis-walk flips the hash. Malformed streams drop per row;
    payloads never shuffle."""
    return _gif_frame_sample(load(spark, sf_dir, "documents"))


_stream_twin("streaming_gif_frame_sample", "mm_gif_frame_sample",
             _gif_frame_sample)


def _gif_frame_composite(docs):
    return mm.gif_frame_composite(mm.gif_anim_delta_media_from_documents(docs))


@register("mm_gif_frame_composite", mm.sql_frame_sample("documents"))
def mm_gif_frame_composite(spark, sf_dir):
    """COMPOSITED animated-GIF playback (round 17 — the dominant wild
    profile the full-rect sampler excludes): each document becomes a
    DELTA-CODED animated GIF89a — after frame 0, every image block
    covers only the bounding rectangle of changed pixels, unchanged
    pixels inside the rect are the GCE-transparent index, odd frames
    carry a permuted LOCAL color table, frames cycle through disposal
    2 (restore-to-background, k%5==3) and disposal 3
    (restore-to-previous, k%5==2), and a NETSCAPE2.0 loop extension
    leads — and the sampler composites every frame onto the logical
    screen (partial-rect placement, transparency passthrough, LCT
    precedence, all four defined disposal methods 0-3) before
    emitting the sampled frames' channel-0 means. Because the
    composited canvas at frame k equals the full text-grid frame k,
    sql_frame_sample is STILL the oracle — one SQL twin now pins
    full-rect and delta-composited playback against each other.
    Unlike the full-rect walker, every frame's LZW must run (a
    composited frame depends on all prior draws/disposals — the
    documented honesty note); only the UNDEFINED disposal codes 4-7
    raise into the attrition taxonomy rather than decoding wrongly.
    Malformed streams drop per row; payloads never shuffle."""
    return _gif_frame_composite(load(spark, sf_dir, "documents"))


_stream_twin("streaming_gif_frame_composite", "mm_gif_frame_composite",
             _gif_frame_composite)


@register("mm_decode_png_pal_trns",
          mm.sql_decode_png_rgba("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_png_pal_trns(spark, sf_dir):
    """PALETTE + tRNS PNG decode (round 16) — the classic
    transparent-icon profile: indexed color with per-entry alpha in an
    ancillary tRNS chunk. Each document becomes a genuine palette PNG
    whose 256-entry PLTE holds the truecolor derivations and whose
    tRNS holds the alpha derivation (exactly the RGBA corpus's
    channels, so this entry SHARES sql_decode_png_rgba with
    mm_decode_png_rgba while exercising a disjoint container path —
    PLTE+tRNS index mapping vs 4-channel scanlines; a tRNS-length
    default bug, an index bug, or a composite bug flips the hash
    differently in the two entries). Odd doc_ids Adam7-interlaced.
    Decode maps indices through PLTE to RGB and tRNS to alpha
    (entries beyond the tRNS length opaque per §4.2.1.1), composites
    over white with the documented exact-integer rule, and emits the
    same per-channel band features through the SHARED extractor
    (decode_png_rgba_features). Malformed payloads drop per row."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_png_rgba_features(
        mm.png_pal_trns_media_from_documents(docs),
        decoder_name="decode_png_palette_rgba")


@register("mm_decode_png_wide",
          mm.sql_decode_pgm("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_png_wide(spark, sf_dir):
    """WIDE-SAMPLE grayscale PNG decode (round 16): even doc_ids are
    16-bit gray (sample = v*257 — photography/scientific crawls;
    decoder strips to the high byte, the exact inverse), odd doc_ids
    are 8-bit GRAY+ALPHA (color type 4, opaque — composited over
    white the gray survives, so both profiles share the grayscale
    oracle while exercising 2-byte and 2-channel filter strides),
    every other one Adam7-interlaced. The oracle is the same
    sql_decode_pgm as mm_decode_png — a high/low-byte swap, a stride
    bug, or an alpha-plumbing bug flips the hash. Cross-validated
    against an independent 16-bit/alpha filtered encoder
    (tests/test_png.py). Malformed payloads drop per row."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_png_gray_wide_features(
        mm.png_gray16_media_from_documents(docs))


_stream_twin("streaming_decode_jpeg", "mm_decode_jpeg", _jpeg_features)


_stream_twin("streaming_decode_png_rgb", "mm_decode_png_rgb",
             _png_rgb_features)


_stream_twin("streaming_decode_gif", "mm_decode_gif", _gif_features)


def _bmp_features(docs):
    return mm._rgb_png_features(mm.bmp_media_from_documents(docs),
                                "decode_bmp_rgb", module="bmp")


@register("mm_decode_bmp",
          mm.sql_decode_png_rgb("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_bmp(spark, sf_dir):
    """Windows BMP decode (round 17 late addition) — the container
    with NO entropy coder, so the decode cost is header walk + stride
    arithmetic: each document becomes a real BMP rotating three
    profiles by doc_id (24-bit BI_RGB with BGR byte order; 8-bit
    BI_RLE8 with encoded runs, absolute-mode stretches, and word
    padding; 8-bit uncompressed palettized — bottom-up rows with
    4-byte stride padding, TOP-DOWN on odd BI_RGB doc_ids via
    negative biHeight). The decode validates the BITMAPINFOHEADER,
    reads the BGRA palette, reverses storage row order, strips stride
    padding, expands RLE8 escapes (functions/bmp.py, written from the
    public Windows GDI documentation), and emits the SAME per-channel
    band features as the PNG/GIF truecolor entries — so
    sql_decode_png_rgb now pins FOUR container families and a
    BGR-swap, stride, row-order, or RLE bug flips only this hash.
    Malformed payloads drop per row; payloads never shuffle."""
    return _bmp_features(load(spark, sf_dir, "documents"))


_stream_twin("streaming_decode_bmp", "mm_decode_bmp", _bmp_features)


def _ico_features(docs):
    return mm._rgb_png_features(mm.ico_media_from_documents(docs),
                                "decode_ico_rgb", module="ico")


@register("mm_decode_ico",
          mm.sql_decode_png_rgb("documents", cap=mm.ICO_MAX_CHARS))
def mm_decode_ico(spark, sf_dir):
    """Windows ICO decode (round 17 late addition) — the first
    DIRECTORY-shaped container: each document becomes a real icon
    whose ICONDIR points at an embedded truecolor PNG (did%3==0, the
    Vista-era PNG-in-ICO convention), an 8-bit palettized headerless
    DIB (did%3==1 — DOUBLED biHeight, BGRA palette, bottom-up XOR
    rows, 1-bpp AND mask), or a 24-bit BGR DIB (did%3==2); every odd
    doc_id leads with a 1x1 DECOY entry so the consumer selection
    rule (largest directory area wins) is exercised on half the
    corpus. The decode walks the directory with per-entry bounds
    checks, picks the largest image, dispatches on the PNG signature,
    decodes the DIB under the doubled-height rule, composites
    AND-masked pixels over white (the PNG-alpha lane's rule), and
    cross-checks directory vs decoded dimensions (functions/ico.py,
    written from the public ICONDIR/GDI documentation). Features are
    the SAME per-channel bands as the PNG/GIF/BMP truecolor entries
    over the text grid capped at 256 rows (ICONDIRENTRY dims are u8)
    — sql_decode_png_rgb with cap=ICO_MAX_CHARS now pins FIVE
    container families, and a dispatch, selection, doubled-height,
    mask, or palette bug flips only this hash. Malformed payloads
    drop per row; payloads never shuffle."""
    return _ico_features(load(spark, sf_dir, "documents"))


_stream_twin("streaming_decode_ico", "mm_decode_ico", _ico_features)


def _flac_features(docs):
    return mm.decode_flac(mm.flac_media_from_documents(docs))


@register("mm_decode_flac", mm.sql_decode_wav("documents"))
def mm_decode_flac(spark, sf_dir):
    """FLAC decode (round 17 late addition) — the audio family's
    first COMPRESSED lossless container and the engine's second
    bit-granular entropy path (after JPEG's Huffman lane): each
    document becomes a real FLAC stream — STREAMINFO with packed
    20/3/5/36-bit fields plus skippable PADDING/VORBIS_COMMENT
    blocks, fixed-blocksize frames (short last frame via the
    end-of-header 16-bit size field), UTF-8-coded frame numbers,
    subframes rotating VERBATIM / FIXED order 1 / FIXED order 2 per
    (doc_id + frame) with all-equal frames forced CONSTANT,
    partitioned Rice-coded residuals (4 partitions on odd frames,
    every third partition escape-coded raw), and REAL CRC-8, CRC-16,
    and sample-stream MD5 — and the decoder walks the metadata,
    re-syncs each frame, verifies all three integrity fields,
    reconstructs the fixed predictors from the rice residuals
    (functions/flac.py, written from the public RFC 9639 spec), and
    folds to the same u8 feature domain as the WAV/AIFF lanes, so
    sql_decode_wav pins a THIRD audio container and a bit-packing,
    rice, predictor, CRC, or UTF-8-coding bug flips only this hash.
    Malformed payloads drop per row; payloads never shuffle."""
    return _flac_features(load(spark, sf_dir, "documents"))


_stream_twin("streaming_decode_flac", "mm_decode_flac", _flac_features)


def _tiff_features(docs):
    return mm._gray_features(mm.tiff_media_from_documents(docs),
                             "decode_tiff_gray", module="tiff")


@register("mm_decode_tiff",
          mm.sql_decode_pgm("documents", cap=mm.RASTER_MAX_CHARS))
def mm_decode_tiff(spark, sf_dir):
    """Baseline TIFF decode (round 17 late addition) — the only
    container family with DUAL BYTE ORDER: each document becomes a
    real grayscale TIFF rotating profiles by doc_id (II vs MM byte
    order; PackBits per strip; 2-row multi-strip layouts whose
    StripOffsets/StripByteCounts arrays live out-of-line; stored
    WhiteIsZero with inverted bytes). The decode re-reads every
    offset, typed tag, and LEFT-JUSTIFIED inline value under the
    declared order, walks the IFD, reassembles strips, expands
    PackBits, and normalizes photometric 0 (functions/tiff.py,
    written from the public TIFF 6.0 spec) — then emits the SAME
    integer band features as mm_decode_pgm/mm_decode_png, so
    sql_decode_pgm pins a third gray container and an endianness,
    inline-justification, strip, or PackBits bug flips only this
    hash. Malformed payloads drop per row; payloads never shuffle."""
    return _tiff_features(load(spark, sf_dir, "documents"))


_stream_twin("streaming_decode_tiff", "mm_decode_tiff", _tiff_features)


def _aiff_features(docs):
    return mm.decode_aiff(mm.aiff_media_from_documents(docs))


@register("mm_decode_aiff", mm.sql_decode_wav("documents"))
def mm_decode_aiff(spark, sf_dir):
    """AIFF decode (round 17 late addition) — the audio family's
    second container and its first BIG-ENDIAN one: every document
    becomes a real mono 8 kHz 16-bit AIFF (the wav16 sample
    derivation s16 = v*257 - 32768, big-endian), with the COMM sample
    rate stored as a genuine IEEE 80-bit EXTENDED FLOAT (decoded with
    exact integer math), nonzero SSND lead offsets on odd doc_ids,
    and odd-length ANNO chunks exercising IFF pad alignment. The
    decode walks FORM/AIFF chunks big-endian, parses COMM/SSND, folds
    samples with the same (s + 32768) >> 8 rule as the 16-bit WAV
    lane, and emits the decode_wav feature contract — so
    sql_decode_wav pins a second audio container and an endianness,
    extended-float, offset, or pad-walk bug flips only this hash.
    Python stdlib ``aifc`` opens these payloads (asserted in tests).
    Malformed payloads drop per row; payloads never shuffle."""
    return _aiff_features(load(spark, sf_dir, "documents"))


_stream_twin("streaming_decode_aiff", "mm_decode_aiff", _aiff_features)


@register("mm_decode_wav", mm.sql_decode_wav("documents"))
def mm_decode_wav(spark, sf_dir):
    """REAL audio decode — RIFF/WAV needs no codec library for PCM:
    every document becomes a VALID mono 8 kHz PCM-u8 WAV (pure Column
    expressions; variable little-endian size fields via chr() +
    ISO-8859-1 encode, which maps codepoints 0..255 to single bytes —
    python's stdlib `wave` module opens these payloads, asserted in
    tests), and the decoder genuinely WALKS the RIFF chunk list inside
    mapInPandas — magic, 4CC + little-endian sizes with odd-size pad
    alignment, fmt block validation (PCM/mono/8-bit), data chunk — and
    emits exact integer clip features (sample count, rate, duration,
    mean level in micros, peak). This proves the audio-decode
    architecture the same way the P5 path proved images; compressed
    codecs (MP3/AAC) stay honestly stubbed. Payloads never shuffle;
    malformed payloads drop per row. The oracle rebuilds the samples
    arithmetically, so a chunk-walk bug breaks the hash.
    See functions/multimodal.py:wav_media_from_documents/_parse_wav."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav_media_from_documents(docs))


@register("mm_decode_report", mm.sql_decode_report("documents"))
def mm_decode_report(spark, sf_dir):
    """DECODE ATTRITION REPORT (round 15) — the "no silent caps" rule
    applied to the drop-per-row contract: every decoder drops
    malformed blobs correctly, but a production pipeline must PUBLISH
    what it dropped (a corpus of 90% progressive JPEGs fed to a
    baseline-only decoder would otherwise report success). The corpus
    carries every document in three modalities (JPEG — baseline even /
    progressive odd doc_ids; grayscale PNG; WAV — u8 even / 16-bit
    odd) with a deterministic corruption class per doc_id % 5: intact,
    broken magic, mid-header prefix truncation (tail cuts can't work:
    a progressive JPEG with scan suffixes dropped is decodable BY
    DESIGN), a real-but-unsupported profile (SOF3 / gray+alpha /
    24-bit PCM), and an invalid header field (4.3 Gpx dims / 2^62 px
    PNG / rate 0). The decode attempts run map-side
    (functions/multimodal.py:decode_attrition_report), each failure's
    ValueError message is classified into the enumerated reason
    taxonomy (classify_decode_error — pinned per class in
    tests/test_round15.py), and only bounded-cardinality (modality,
    reason) pairs shuffle into the count. The oracle recomputes the
    expected counts arithmetically from doc_id — a decoder that fails
    on an intact payload, survives a corrupted one, or raises outside
    its class's reason flips the hash."""
    docs = load(spark, sf_dir, "documents")
    # r18: build/corrupt/decode/classify FUSED into one Python stage
    # over one document scan (guide §4.2/§2.3; the unfused four-scan
    # pipeline shipped every payload across the Arrow boundary three
    # times — attrition_media_from_documents stays as the semantics
    # reference, byte-equality pinned in tests/test_round18.py)
    return mm.attrition_report_from_documents(docs)


# the (modality, reason) count is a bounded streaming aggregation,
# finalized in UPDATE mode (per-key latest)
_stream_twin("streaming_decode_report", "mm_decode_report",
             mm.attrition_report_from_documents,
             sink=lambda spark, out, prefix: _run_stream_update_latest(
                 spark, out, prefix, ["modality", "reason"]))


@register("mm_decode_wav16", mm.sql_decode_wav("documents"))
def mm_decode_wav16(spark, sf_dir):
    """16-BIT PCM WAV decode (round 15) — u8 WAV is rare in the wild;
    16-bit signed LE is what every recorder/encoder emits, so the
    u8-only parser was missing the real-world default: every document
    becomes a genuine 16-bit mono RIFF/WAVE (sample v*257 - 32768 per
    cleaned codepoint v — BOTH bytes of every sample are live; python
    stdlib `wave` opens the payloads, asserted in tests), the RIFF
    walk validates the 16-bit fmt block, and the samples fold to the
    u8 feature domain via the exact top-byte bias ((s + 32768) >> 8),
    recovering v bit-exactly — so sql_decode_wav stays the oracle and
    a byte-order, bias, or fold bug flips the hash. Same clip
    features, same drop-per-row contract; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav16_media_from_documents(docs))


@register("mm_decode_wav_wide", mm.sql_decode_wav("documents"))
def mm_decode_wav_wide(spark, sf_dir):
    """24-BIT PCM + IEEE-FLOAT32 WAV decode (round 16): 24-bit is the
    pro-audio export width and float32 (fmt code 3) the DAW/ML-
    pipeline default — both previously dropped as unsupported
    encodings. Even doc_ids become genuine 24-bit mono RIFF/WAVE
    (sample v * 0x010101 - 2^23, all three bytes live; stdlib `wave`
    opens them, asserted in tests), odd doc_ids float32 (sample
    (v - 128)/128, dyadic-exact in float32). The RIFF walk validates
    each fmt block and folds to the shared u8 feature domain —
    top-byte bias for 24-bit, round-half-up f*128 + 128 for float —
    recovering v bit-exactly in both lanes, so sql_decode_wav stays
    the oracle and a byte-assembly, sign-extension, or float-fold bug
    flips the hash. Same clip features, same drop-per-row contract;
    payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav_wide_media_from_documents(docs))


@register("mm_decode_wav_ulaw", mm.sql_decode_wav_ulaw("documents"))
def mm_decode_wav_ulaw(spark, sf_dir):
    """G.711 MU-LAW WAV decode (round 16, fmt code 7 — the telephony
    standard; previously dropped as an unsupported encoding): every
    cleaned-text byte IS a mu-law code (the full 256-code table is
    exercised at corpus scale), the RIFF walk validates the fmt-7
    block, and each code expands via the exact ITU integer transform
    — complement, 3-bit exponent, 4-bit mantissa, bias 0x84 — then
    folds to the shared u8 feature domain by the 16-bit top-byte
    bias. The oracle replays the expansion verbatim in SQL, so a
    complement, exponent-shift, bias, or sign bug flips the hash.
    Same clip features, same drop-per-row contract; payloads never
    shuffle (pure-Column builder, mapInPandas decode)."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav_ulaw_media_from_documents(docs))


@register("mm_decode_wav_alaw", mm.sql_decode_wav_alaw("documents"))
def mm_decode_wav_alaw(spark, sf_dir):
    """G.711 A-LAW WAV decode (round 16, fmt code 6 — Europe's
    telephony standard, completing the G.711 pair): every
    cleaned-text byte IS an A-law code, expanded via the exact ITU
    integer transform — even-bit toggle (xor 0x55), 3-bit segment
    with a linear segment 0, sign bit SET meaning positive (the
    polarity inversion vs mu-law that a shared-code shortcut would
    get wrong) — then folded by the 16-bit top-byte bias. The oracle
    replays the expansion verbatim in SQL; the decode is additionally
    cross-checked against the Sun reference implementation for all
    256 codes in tests. Same clip features, same drop-per-row
    contract; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav_alaw_media_from_documents(docs))


@register("mm_decode_wav_adpcm", mm.sql_decode_wav_adpcm("documents"))
def mm_decode_wav_adpcm(spark, sf_dir):
    """IMA-ADPCM WAV decode (round 17, fmt code 0x11 — the common
    COMPRESSED WAV in telephony and games, and the attrition
    taxonomy's last big real-world WAV class; the report's
    unsupported plant stays fmt code 2, MICROSOFT ADPCM, a different
    codec): every cleaned-text byte becomes one data byte of the
    nibble stream inside ADPCM_BLOCK-byte blocks whose headers reset
    predictor 0 / step index (b*11) % 89 per block, and the decoder
    replays the published IMA recurrence — diff assembled from
    step >> 3/2/1/0 by nibble bits, int16 predictor clamp, 0..88
    index clamp, low nibble first, header predictor as sample 0, a
    SHORT final block decoded by its actual byte count. The oracle
    folds the identical integer recurrence in SQL (homogeneous
    list_reduce, published tables as literals), so a table, clamp,
    nibble-order, or block-reset bug flips the hash. Decode is
    sequential WITHIN a block by nature but blocks are independent —
    the 100 TB unit of parallelism. Same clip features, same
    drop-per-row contract; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav_adpcm_media_from_documents(docs))


@register("mm_decode_wav_stereo", mm.sql_decode_wav_stereo("documents"))
def mm_decode_wav_stereo(spark, sf_dir):
    """STEREO WAV decode (round 15) — music/podcast audio is
    overwhelmingly 2-channel, so the mono-only fmt check was
    rejecting the other real-world default: every document becomes a
    genuine interleaved-L/R RIFF/WAVE (left = codepoint v, right =
    (v*37) % 256; EVEN doc_ids PCM-u8, ODD 16-bit on the lossless
    grid — stdlib `wave` opens both, asserted in tests), the RIFF
    walk validates channels=2, deinterleaves frames, folds each
    channel to the u8 domain, and DOWNMIXES mono = (l + r) // 2 as
    exact integer floor — so one arithmetic oracle
    (sql_decode_wav_stereo) pins deinterleave + width fold + downmix
    for both widths at once, and a frame-alignment or channel-swap
    bug flips the hash. Same clip features and drop-per-row contract
    as the mono entries; payloads never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_wav(mm.wav_stereo_media_from_documents(docs))


_VDUP_MAX_BUCKET = 64
_VDUP_MIN_MATCH = 2

_VDUP_SQL = f"""
WITH _vd_docs AS (
  SELECT doc_id AS media_id,
         regexp_replace(lower(coalesce(text, '')),
                        '[^a-z0-9 ]+', '', 'g') AS c0
  FROM documents
  UNION ALL
  SELECT doc_id + 20000,
         regexp_replace(lower(coalesce(text, '') || ' qq'),
                        '[^a-z0-9 ]+', '', 'g')
  FROM documents WHERE doc_id < 40
),
{mm.sql_frame_phash("SELECT media_id, c0 AS c, length(c0) AS n"
                    " FROM _vd_docs")},
_vd_ok AS (
  SELECT frame_idx, fhash FROM _fp GROUP BY frame_idx, fhash
  HAVING count(*) <= {_VDUP_MAX_BUCKET}
),
_vd_pairs AS (
  SELECT a.media_id AS keep_id, b.media_id AS dup_id,
         CAST(count(*) AS BIGINT) AS n_frame_matches
  FROM _fp a
  JOIN _vd_ok o ON o.frame_idx = a.frame_idx AND o.fhash = a.fhash
  JOIN _fp b ON b.frame_idx = a.frame_idx AND b.fhash = a.fhash
   AND a.media_id < b.media_id
  GROUP BY 1, 2
)
SELECT keep_id, dup_id, n_frame_matches
FROM _vd_pairs WHERE n_frame_matches >= {_VDUP_MIN_MATCH}
"""


@register("mm_video_dedup", _VDUP_SQL)
def mm_video_dedup(spark, sf_dir):
    """REAL video near-dup detection — the multimodal pipeline op the
    frame path exists for: every document becomes a concatenated-P5
    frame stream (with 40 planted perturbed copies — ' qq' appended,
    which disturbs only the final frame), each stream is genuinely
    walked and every 2nd frame perceptually hashed (4x4 aHash,
    functions/multimodal.py frame_phash_pgm), and near-dup videos are
    pairs sharing >= {_VDUP_MIN_MATCH} FRAME-ALIGNED hash matches —
    found without an all-pairs scan via an equi-join on
    (frame_idx, fhash) buckets, capped at {_VDUP_MAX_BUCKET} (the
    max_df analog: the all-black-first-frame bucket of empty docs
    would otherwise go quadratic).

    100 TB shape: hashes are computed map-side next to the payload
    bytes (blobs never shuffle — only 2-byte frame hashes + frame
    keys do); the bucket join is O(candidates) with the hot-bucket
    cap as the skew defense; the per-pair match count is a
    partial-aggregated groupBy. The oracle rebuilds every sampled
    frame's hash arithmetically from the cleaned text and runs the
    identical blocking, so a cursor bug, a grid off-by-one, or a cap
    drift all break the hash."""
    docs = load(spark, sf_dir, "documents")
    corpus = _planted_suffix_corpus(docs)
    from ..operators import cache
    # persist the hash table (FORCED — the mapInPandas bogus-estimate
    # class): the bucket-cap counts and both join arms consume it;
    # size-gated, each re-ran the full encode + stream walk
    fp = cache.maybe_persist(
        mm.frame_phash_pgm(mm.pgm_stream_from_documents(corpus)),
        force=True)
    ok = (fp.groupBy("frame_idx", "fhash")
          .agg(F.count(F.lit(1)).alias("_n"))
          .filter(F.col("_n") <= _VDUP_MAX_BUCKET)
          .select("frame_idx", "fhash"))
    a = fp.join(ok, ["frame_idx", "fhash"]).select(
        "frame_idx", "fhash", F.col("media_id").alias("keep_id"))
    b = fp.select("frame_idx", "fhash", F.col("media_id").alias("dup_id"))
    return (a.join(b, ["frame_idx", "fhash"])
            .filter(F.col("keep_id") < F.col("dup_id"))
            .groupBy("keep_id", "dup_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_frame_matches"))
            .filter(F.col("n_frame_matches") >= _VDUP_MIN_MATCH))


_ADUP_MAX_BUCKET = 64
_ADUP_HAM_T = 2

_ADUP_SQL = f"""
WITH _ad_docs AS (
  SELECT doc_id AS media_id,
         regexp_replace(lower(coalesce(text, '')),
                        '[^a-z0-9 ]+', '', 'g') AS c0
  FROM documents
  UNION ALL
  SELECT doc_id + 20000,
         'qq' || substr(regexp_replace(lower(coalesce(text, '')),
                        '[^a-z0-9 ]+', '', 'g'), 3)
  FROM documents WHERE doc_id < 40
),
{mm.sql_afp_wav("SELECT media_id, c0 AS c,"
                " greatest(length(c0), 1) AS n FROM _ad_docs")},
_ad_bands AS (
  SELECT media_id, afp, k.k AS k,
         (afp >> (10 * k.k)) & (CASE WHEN k.k = 2 THEN 2047
                                ELSE 1023 END) AS bv
  FROM _af, (SELECT unnest(generate_series(0, 2)) AS k) k
),
_ad_ok AS (
  SELECT k, bv FROM _ad_bands GROUP BY k, bv
  HAVING count(*) <= {_ADUP_MAX_BUCKET}
),
_ad_pairs AS (
  SELECT DISTINCT a.media_id AS keep_id, a.afp AS fa,
                  b.media_id AS dup_id, b.afp AS fb
  FROM _ad_bands a
  JOIN _ad_ok o ON o.k = a.k AND o.bv = a.bv
  JOIN _ad_bands b ON b.k = a.k AND b.bv = a.bv
   AND a.media_id < b.media_id
)
SELECT keep_id, dup_id,
       CAST(bit_count(xor(CAST(fa AS BIGINT), CAST(fb AS BIGINT)))
            AS INTEGER) AS hamming
FROM _ad_pairs
WHERE bit_count(xor(CAST(fa AS BIGINT), CAST(fb AS BIGINT)))
      <= {_ADUP_HAM_T}
"""


@register("mm_audio_dedup", _ADUP_SQL)
def mm_audio_dedup(spark, sf_dir):
    """REAL audio near-dup detection — the fourth modality of the
    LSH-blocked dedup family (text MinHash, image aHash, video
    frame-hash, now audio): every document becomes a valid PCM-u8 WAV
    (40 planted perturbed copies), each payload is genuinely parsed
    (the full RIFF walk) and fingerprinted with the time-domain
    variant of Haitsma & Kalker's robust audio hash (ISMIR 2002) —
    the clip splits into 32 equal windows and bit w is the SIGN of
    the energy delta E[w+1] > E[w], level-shift-robust, 31 bits
    (functions/multimodal.py afp_wav). Near-dups are pairs within
    Hamming {_ADUP_HAM_T}, found via a 3-band (10/10/11-bit) equi-join
    (pigeonhole: any pair within distance 2 shares a band exactly),
    buckets capped at {_ADUP_MAX_BUCKET} (the silence bucket — all
    zero deltas — would otherwise go quadratic). The 40 planted
    near-dups perturb a length-preserving PREFIX (first two cleaned
    chars -> 'qq'): only window 0's energy moves, so the plant lands
    at Hamming <= 1 — an appended-suffix plant shifts every integer
    window boundary and scatters the fingerprint (measured: 0/40).

    100 TB shape: the fingerprint is computed map-side next to the
    waveform bytes (only 4-byte fingerprints + 10/11-bit band keys
    shuffle); the banded join is O(candidates) with the hot-bucket
    cap as the skew defense; the Hamming verify is one JVM-side
    xor+popcount per candidate. The oracle rebuilds every window
    energy arithmetically and runs identical blocking."""
    docs = load(spark, sf_dir, "documents")
    # the plant is LENGTH-PRESERVING (first two cleaned chars replaced
    # by 'qq'): a length change would shift every window boundary and
    # flip delta signs corpus-wide — the appended-' qq' plant the
    # image/video entries use recovered ZERO pairs here; prefix
    # replacement touches only window 0's energy, i.e. Hamming <= ~1
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.concat(F.lit("qq"), F.expr(
                "substring(regexp_replace(lower(coalesce(text, '')),"
                " '[^a-z0-9 ]+', ''), 3)")).alias("text")))
    from ..operators import cache
    # persist the fingerprint table (FORCED — the mapInPandas
    # bogus-estimate class): bucket-cap counts + both join arms
    # consume it (the x3 decode shape shared with phash/video)
    af = cache.maybe_persist(
        mm.afp_wav(mm.wav_media_from_documents(corpus)), force=True)
    return _banded_near_dups(af, "afp", 3, 10,
                             lambda k: 2047 if k == 2 else 1023,
                             _ADUP_MAX_BUCKET, _ADUP_HAM_T)


@register("mm_audio_dedup_shift", mm.sql_audio_dedup_shift("documents"))
def mm_audio_dedup_shift(spark, sf_dir):
    """SHIFT-INVARIANT audio near-dup detection (round 17) — closes
    mm_audio_dedup's documented weakness: afp_wav's integer window
    boundaries are n-relative, so an APPENDED suffix (let alone a
    prepended shift) scatters the whole fingerprint — measured 0/40
    since r12, while a time-shifted near-duplicate is the common real
    case for audio. The landmark fingerprint (the peak-pair idea of
    Wang's ISMIR 2003 audio search, time-domain variant): strict
    local maxima over a +/-2 window anchor the hash, every three
    consecutive landmarks pack (v1, v2, v3, gap, gap) into 34 bits —
    positions enter only as GAPS, so unchanged audio regions hash
    identically under ANY time shift. The plant family here is
    exactly what the window fingerprint cannot catch: 40
    suffix-APPENDED and 40 prefix-PREPENDED copies — measured
    80/80 recovered at sf0.01 AND sf0.1 (pinned in tests).

    100 TB shape: fingerprints are computed map-side next to the
    waveform bytes (only ~n/5 8-byte hashes shuffle, never samples);
    hashes seen in > AFP_LM_DF_CAP (64) docs are dropped BEFORE the
    pair join (the stop-motif defense — candidate volume is bounded
    by cap * |fingerprints|, and a near-dup pair still shares its
    RARE hashes); the verify is a count over the bucketed equi-join
    with a relative threshold (>= half the smaller fingerprint), so
    no all-pairs scan exists anywhere."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") < 40)
    corpus = base.unionByName(
        plants.select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.concat(F.coalesce(F.col("text"), F.lit("")),
                     F.lit(" qq shifted suffix block qq"))
            .alias("text"))
    ).unionByName(
        plants.select(
            (F.col("doc_id") + 40000).alias("doc_id"),
            F.concat(F.lit("zz prefix shift zz "),
                     F.coalesce(F.col("text"), F.lit("")))
            .alias("text")))
    from ..operators import cache
    # persist the fingerprint table (FORCED — mapInPandas bogus
    # estimate): the DF filter, per-doc counts, and both pair-join
    # arms consume it
    fp = cache.maybe_persist(
        mm.afp_landmarks(mm.wav_media_from_documents(corpus)),
        force=True)
    rare = (fp.groupBy("h").count()
            .filter(F.col("count") <= mm.AFP_LM_DF_CAP)
            .select("h"))
    keep = cache.maybe_persist(fp.join(rare, "h"), force=True)
    cnt = keep.groupBy("media_id").agg(F.count("*").alias("cnt"))
    a = keep.select(F.col("media_id").alias("doc_a"), "h")
    b = keep.select(F.col("media_id").alias("doc_b"), "h")
    pair = (a.join(b, "h")
            .filter(F.col("doc_b") > F.col("doc_a"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("shared")))
    ca = cnt.select(F.col("media_id").alias("doc_a"),
                    F.col("cnt").alias("cnt_a"))
    cb = cnt.select(F.col("media_id").alias("doc_b"),
                    F.col("cnt").alias("cnt_b"))
    return (pair.join(ca, "doc_a").join(cb, "doc_b")
            .filter((F.col("shared") >= mm.AFP_LM_MIN_SHARED)
                    & (2 * F.col("shared")
                       >= F.least("cnt_a", "cnt_b")))
            .select("doc_a", "doc_b", "shared"))


_MCUR_SQL = f"""
WITH _mc_gopher AS (
  SELECT doc_id FROM ({tx.sql_gopher_rules('documents')}) WHERE keep
),
_mc_s1 AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN _mc_gopher g ON g.doc_id = d.doc_id
),
_mc_keep2 AS (
  SELECT min(doc_id) AS doc_id FROM _mc_s1
  GROUP BY md5(coalesce(text, ''))
),
_mc_s2 AS (
  SELECT doc_id,
         regexp_replace(lower(coalesce(text, '')),
                        '[^a-z0-9 ]+', '', 'g') AS c
  FROM _mc_s1 WHERE doc_id IN (SELECT doc_id FROM _mc_keep2)
),
{mm.sql_phash_pgm("SELECT doc_id AS media_id, c, length(c) AS n"
                   " FROM _mc_s2")},
_mc_ib AS (
  SELECT media_id, phash, k.k AS k,
         (phash >> (16 * k.k)) & 65535 AS bv
  FROM _ph, (SELECT unnest(generate_series(0, 3)) AS k) k
),
_mc_iok AS (
  SELECT k, bv FROM _mc_ib GROUP BY k, bv
  HAVING count(*) <= {_PHASH_MAX_BUCKET}
),
_mc_idrop AS (
  SELECT DISTINCT b.media_id AS doc_id
  FROM _mc_ib a
  JOIN _mc_iok o ON o.k = a.k AND o.bv = a.bv
  JOIN _mc_ib b ON b.k = a.k AND b.bv = a.bv
   AND a.media_id < b.media_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_HAM_T}
),
_mc_s3 AS (
  SELECT doc_id, c FROM _mc_s2
  WHERE doc_id NOT IN (SELECT doc_id FROM _mc_idrop)
),
{mm.sql_afp_wav("SELECT doc_id AS media_id, c,"
                 " greatest(length(c), 1) AS n FROM _mc_s3")},
_mc_ab AS (
  SELECT media_id, afp, k.k AS k,
         (afp >> (10 * k.k)) & (CASE WHEN k.k = 2 THEN 2047
                                ELSE 1023 END) AS bv
  FROM _af, (SELECT unnest(generate_series(0, 2)) AS k) k
),
_mc_aok AS (
  SELECT k, bv FROM _mc_ab GROUP BY k, bv
  HAVING count(*) <= {_ADUP_MAX_BUCKET}
),
_mc_adrop AS (
  SELECT DISTINCT b.media_id AS doc_id
  FROM _mc_ab a
  JOIN _mc_aok o ON o.k = a.k AND o.bv = a.bv
  JOIN _mc_ab b ON b.k = a.k AND b.bv = a.bv
   AND a.media_id < b.media_id
  WHERE bit_count(xor(CAST(a.afp AS BIGINT), CAST(b.afp AS BIGINT)))
        <= {_ADUP_HAM_T}
),
_mc_s4 AS (
  SELECT doc_id FROM _mc_s3
  WHERE doc_id NOT IN (SELECT doc_id FROM _mc_adrop)
)
SELECT '1_input' AS stage,
       CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
UNION ALL SELECT '2_gopher',
       CAST((SELECT count(*) FROM _mc_s1) AS BIGINT)
UNION ALL SELECT '3_exact_text',
       CAST((SELECT count(*) FROM _mc_s2) AS BIGINT)
UNION ALL SELECT '4_image_neardup',
       CAST((SELECT count(*) FROM _mc_s3) AS BIGINT)
UNION ALL SELECT '5_audio_neardup',
       CAST((SELECT count(*) FROM _mc_s4) AS BIGINT)
"""


@register("pipeline_multimodal_curation", _MCUR_SQL)
def pipeline_multimodal_curation(spark, sf_dir):
    """The MULTIMODAL curation funnel composed end to end — what a
    real multimodal pretraining corpus runs, with every stage an
    already-oracle-proven operator: Gopher quality panel (Rae 2021)
    -> exact text dedup (min-id keep per content hash) -> IMAGE
    near-dup drop (perceptual aHash + banded Hamming join, the
    mm_phash_dedup machinery) -> AUDIO near-dup drop (energy-delta
    fingerprint + banded join, the mm_audio_dedup machinery). One row
    per stage with the surviving doc count — the attrition report is
    the oracle-checked artifact, exactly like pipeline_curation_v2's
    text-only funnel.

    100 TB shape inherited stage-wise: gopher is map-side Column
    folds, the exact dedup one groupBy on a uniform hash, both
    modality stages compute fingerprints map-side next to the payload
    bytes (forced persists — the mapInPandas bogus-estimate class)
    and join only hash+band keys with hot-bucket caps. The funnel
    narrows monotonically, so each later stage scans fewer payloads
    (cheapest-filter-first ordering, the staged-funnel rule)."""
    from ..operators import cache

    docs = load(spark, sf_dir, "documents")
    gop = tx.gopher_rules(docs).filter(F.col("keep")).select("doc_id")
    s1 = cache.maybe_persist(
        docs.select("doc_id", "text").join(gop, "doc_id", "left_semi"))
    keep2 = (s1.groupBy(F.md5(F.coalesce(F.col("text"), F.lit("")))
                        .alias("_h"))
             .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    s2 = cache.maybe_persist(s1.join(keep2, "doc_id", "left_semi"))

    ph = cache.maybe_persist(
        mm.phash_pgm(mm.pgm_media_from_documents(s2)), force=True)
    idrop = _banded_near_dups(
        ph, "phash", 4, 16, lambda k: 65535,
        _PHASH_MAX_BUCKET, _PHASH_HAM_T).select(
        F.col("dup_id").alias("doc_id")).distinct()
    s3 = cache.maybe_persist(
        s2.join(idrop, "doc_id", "left_anti"))
    af = cache.maybe_persist(
        mm.afp_wav(mm.wav_media_from_documents(s3)), force=True)
    adrop = _banded_near_dups(
        af, "afp", 3, 10, lambda k: 2047 if k == 2 else 1023,
        _ADUP_MAX_BUCKET, _ADUP_HAM_T).select(
        F.col("dup_id").alias("doc_id")).distinct()
    s4 = s3.join(adrop, "doc_id", "left_anti")

    def _stage(label, frame):
        return frame.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))             .select(F.lit(label).alias("stage"), "n_docs")

    return (_stage("1_input", docs)
            .unionByName(_stage("2_gopher", s1))
            .unionByName(_stage("3_exact_text", s2))
            .unionByName(_stage("4_image_neardup", s3))
            .unionByName(_stage("5_audio_neardup", s4)))


@register("mm_media_meta", """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) * 10 AS duration_ms,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
""")
def mm_media_meta(spark, sf_dir):
    """Multimodal plumbing: binary payload + typed metadata projection
    (payloads never shuffled — metadata-only select)."""
    docs = load(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = mm.fake_media_from_documents(
        docs.withColumn("_kind", kind), kind="image"
    ).withColumn(
        "kind",
        F.when(F.col("media_id") % 3 == 0, "image")
        .when(F.col("media_id") % 3 == 1, "audio").otherwise("video"))
    return media.select(
        "media_id", "kind",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@register("mm_resize_plan", """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width,
         CAST(octet_length(encode(text)) % 480 + 16 AS INTEGER) AS height
  FROM documents
)
SELECT media_id,
       CAST(floor(CAST(width AS DOUBLE)
            * least(256.0 / greatest(CAST(width AS DOUBLE),
                                     CAST(height AS DOUBLE)), 1.0) + 0.5)
            AS INTEGER) AS out_width,
       CAST(floor(CAST(height AS DOUBLE)
            * least(256.0 / greatest(CAST(width AS DOUBLE),
                                     CAST(height AS DOUBLE)), 1.0) + 0.5)
            AS INTEGER) AS out_height,
       ROUND6(least(256.0 / greatest(CAST(width AS DOUBLE),
                                     CAST(height AS DOUBLE)), 1.0)) AS scale
FROM m
""")
def mm_resize_plan(spark, sf_dir):
    """Resize planning: metadata-only aspect-preserving dims."""
    docs = load(spark, sf_dir, "documents")
    media = mm.fake_media_from_documents(docs)
    return mm.resize_meta(media, 256).drop("kind")


@register("mm_frame_plan", """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) * 10 AS duration_ms
  FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2
),
f AS (SELECT media_id, CAST(floor(CAST(duration_ms AS DOUBLE) / 1000.0)
                            AS INTEGER) AS n FROM m)
SELECT media_id, CAST(g.i - 1 AS INTEGER) AS frame_idx,
       CAST(g.i - 1 AS BIGINT) * 1000 AS sample_at_ms
FROM f, (SELECT unnest(generate_series(1, 100000)) AS i) g
WHERE g.i <= f.n
""")
def mm_frame_plan(spark, sf_dir):
    """Video frame-sampling plan: one row per sampled timestamp."""
    docs = load(spark, sf_dir, "documents")
    media = mm.fake_media_from_documents(docs).withColumn(
        "kind",
        F.when(F.col("media_id") % 3 == 2, "video").otherwise("image"))
    return mm.frame_sample_plan(media, every_ms=1000)


# ===========================================================================
# ST3 bubble-burst + W4 coGroup batch twins
# ===========================================================================

# BurstStep.java:9-29 damping chain, STEP1..STEP10.
_BURST_MULTS = {1: 0.95, 2: 0.9, 3: 0.8, 4: 0.7, 5: 0.7,
                6: 0.8, 7: 0.9, 8: 0.95, 9: 1.2, 10: 1.1}

_ST3_MULT_SQL = ("CASE CAST(acc[3] AS INTEGER) "
                 + " ".join(f"WHEN {k} THEN {v}"
                            for k, v in _BURST_MULTS.items())
                 + " ELSE 1.0 END")

# state [running, prev_diff, step]; element [infl, rand]
_ST3_RUN = "(acc[1] + x[1])"
_ST3_D0 = f"({_ST3_RUN} - acc[2])"
_ST3_D1 = (f"(CASE WHEN acc[3] > 0.0 THEN {_ST3_D0} * ({_ST3_MULT_SQL}) "
           f"ELSE {_ST3_D0} END)")
_ST3_STEP2 = (
    "(CASE WHEN acc[3] > 0.0 THEN "
    "   (CASE WHEN acc[3] < 10.0 THEN acc[3] + 1.0 ELSE 0.0 END) "
    f"  WHEN x[2] < {_ST3_D0} * 0.01 THEN 1.0 ELSE 0.0 END)")
_ST3_FOLD = f"[{_ST3_RUN}, {_ST3_D1}, {_ST3_STEP2}]"

# deterministic uniform in [0,1): md5-based, portable
_ST3_RAND_SQL = ("(CAST(concat('0x', substr(md5(concat('burst|', event_type, "
                 "'|', event_id)), 1, 15)) AS BIGINT) % 1048576) / 1048576.0")


@register("st3_bubble_burst", f"""
WITH {EV_SQL},
e AS (
  SELECT event_type, ts, event_id,
         CAST([CASE WHEN value < 25.0 THEN 0.01 ELSE -0.01 END,
               {_ST3_RAND_SQL}] AS DOUBLE[]) AS u
  FROM ev
),
seqs AS (SELECT event_type, list(u ORDER BY ts, event_id) AS us
         FROM e GROUP BY event_type),
folded AS (
  SELECT event_type,
         list_reduce(list_prepend(CAST([0.0, 0.0, 0.0] AS DOUBLE[]), us),
                     (acc, x) -> {_ST3_FOLD}) AS st
  FROM seqs)
SELECT event_type,
       ROUND6(st[1]) AS hype_total,
       ROUND6(st[2]) AS diff,
       CAST(st[3] AS INTEGER) AS burst_step
FROM folded
""")
def st3_bubble_burst(spark, sf_dir):
    """ST3 bubble-burst state machine (SharePriceDataflow.java:169-225,
    BurstStep.java:9-29) as a batch fold with DETERMINISTIC md5-based
    burst randomness (java:216's random.nextDouble() injected as data so
    the oracle can replay it). Exact semantics incl. the java:221 quirk
    where the persistent 'bursts' value is the previous diff. Returns
    the final (running hype, diff, step) per key; per-event emission
    lives in streaming/stateful.bubble_burst_step."""
    ev = events_enriched(spark, sf_dir)
    rand = (
        md5_long(F.concat(F.lit("burst|"), F.col("event_type"),
                          F.lit("|"), F.col("event_id"))) % 1048576
    ).cast("double") / 1048576.0
    infl = F.when(F.col("value") < 25.0, 0.01).otherwise(-0.01)
    src = ev.select("event_type", "ts", "event_id",
                    infl.alias("infl"), rand.alias("rand"))

    def init():
        return F.struct(
            F.lit(0.0).alias("running"),
            F.lit(0.0).alias("prev_diff"),
            F.lit(0).cast("int").alias("step"),
        )

    def mult_for(step_col):
        expr = None
        for k, v in _BURST_MULTS.items():
            expr = (F.when(step_col == k, F.lit(v)) if expr is None
                    else expr.when(step_col == k, F.lit(v)))
        return expr.otherwise(F.lit(1.0))

    def fold_step(acc, x):
        running = acc["running"] + x["infl"]
        d0 = running - acc["prev_diff"]
        in_burst = acc["step"] > 0
        d1 = F.when(in_burst, d0 * mult_for(acc["step"])).otherwise(d0)
        step2 = (
            F.when(in_burst,
                   F.when(acc["step"] < 10, acc["step"] + 1).otherwise(0))
            .when(x["rand"] < d0 * F.lit(0.01), 1)
            .otherwise(0)
        )
        return F.struct(
            running.alias("running"),
            d1.alias("prev_diff"),
            step2.cast("int").alias("step"),
        )

    out = folds.fold_by_key(
        src, ["event_type"], ["ts", "event_id"], ["infl", "rand"],
        lambda seq: F.aggregate(seq, init(), fold_step), "st")
    return out.select(
        "event_type",
        round_portable(F.col("st.running")).alias("hype_total"),
        round_portable(F.col("st.prev_diff")).alias("diff"),
        F.col("st.step").alias("burst_step"),
    )


@register("w4_cogroup_latest", f"""
WITH {EV_SQL},
c AS (SELECT trader, value FROM (
        SELECT trader, value, row_number() OVER (
          PARTITION BY trader ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE event_type = 'click') WHERE rn = 1),
v AS (SELECT trader, value FROM (
        SELECT trader, value, row_number() OVER (
          PARTITION BY trader ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE event_type = 'view') WHERE rn = 1)
SELECT coalesce(c.trader, v.trader) AS trader,
       c.value AS last_txn_coins,
       v.value AS last_price,
       CASE WHEN c.value IS NULL OR v.value IS NULL THEN 'HOLD'
            WHEN c.value > v.value THEN 'BUY' ELSE 'SELL' END AS decision
FROM c FULL OUTER JOIN v ON c.trader = v.trader
""")
def w4_cogroup_latest(spark, sf_dir):
    """W4 global-window coGroup batch twin
    (MonkeyStockChampion.java:143-232): pair each trader's latest
    TxnResult-side value with the latest price-side value (full outer —
    coGroup sees one-sided groups too) and emit a per-trader decision.
    The per-element-trigger streaming form is the ST4/ST10 tagged-union
    pattern in streaming/stateful.py."""
    ev = events_enriched(spark, sf_dir)
    latest = lambda et: (
        ev.filter(F.col("event_type") == et)
        .groupBy("trader")
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("value"))
    )
    c = latest("click").withColumnRenamed("value", "last_txn_coins")
    v = latest("view").withColumnRenamed("value", "last_price")
    joined = c.join(v, "trader", "full_outer")
    return joined.select(
        "trader",
        "last_txn_coins",
        "last_price",
        F.when(F.col("last_txn_coins").isNull()
               | F.col("last_price").isNull(), "HOLD")
        .when(F.col("last_txn_coins") > F.col("last_price"), "BUY")
        .otherwise("SELL").alias("decision"),
    )


# ===========================================================================
# Per-event stateful emission in the graded gate + extra dashboard agg
# ===========================================================================

@register("st1_ema_per_event", f"""
WITH {EV_SQL},
s AS (SELECT event_type,
             list(value ORDER BY ts, event_id) AS vs,
             list(event_id ORDER BY ts, event_id) AS ids
      FROM ev GROUP BY event_type),
x AS (SELECT event_type,
             unnest(ids) AS event_id,
             unnest(list_transform(generate_series(1, len(vs)),
                 i -> list_reduce(list_slice(vs, 1, i),
                      (acc, v) -> v * CAST(0.1 AS DOUBLE)
                                  + acc * CAST(0.9 AS DOUBLE)))) AS ema
      FROM s)
SELECT event_type, event_id, ROUND6(ema) AS ema FROM x
""")
def st1_ema_per_event(spark, sf_dir):
    """ST1 with PER-EVENT emission (the reference's actual behavior —
    Chapter04:91-99 collects each update) via the Arrow applyInPandas
    batch twin; the oracle replays every prefix fold. This puts the
    pandas per-event engine itself under the correctness gate."""
    from ..streaming import stateful

    ev = events_enriched(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value")
    out = stateful.apply_per_event_batch(
        ev.withColumn("_ems", F.col("event_id")),
        ["event_type"], ["ts", "event_id"],
        lambda: stateful.ema_step(0.1, id_col="event_id"),
        "event_type string, event_id long, ema double")
    return out.select("event_type", "event_id",
                      round_portable(F.col("ema")).alias("ema"))


@register("w5_sum_team_trader", f"""
WITH {EV_SQL}
SELECT team, trader,
       CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
         AS sum_value,
       CAST(count(*) AS BIGINT) AS n
FROM ev GROUP BY team, trader
""")
def w5_sum_team_trader(spark, sf_dir):
    """W5 'Sum of Bailouts per Team and Trader' pie — two-level grouping
    (kibana-dashboard.json)."""
    ev = events_enriched(spark, sf_dir)
    return ev.groupBy("team", "trader").agg(
        (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
        .alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register("dedup_clusters", dd.sql_connected_components(
    "SELECT doc_id FROM documents UNION ALL "
    "SELECT doc_id + 10000 FROM documents WHERE doc_id < 50",
    _with_docs2(dd.sql_minhash_lsh_pairs("docs2"))
    .replace("SELECT id_a, id_b, est_jaccard FROM pairs",
             "SELECT id_a, id_b FROM pairs WHERE est_jaccard >= 0.5")))
def dedup_clusters(spark, sf_dir):
    """Near-dup clustering: LSH candidate pairs (est_jaccard >= 0.5) →
    connected components → per-doc cluster label (min id). The planted
    mutated docs collapse onto their originals. Iterative min-label
    propagation in Spark; recursive-CTE transitive closure in the
    oracle."""
    docs = _docs2(spark, sf_dir)
    pairs = dd.minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= 0.5)
    return dd.connected_components(docs.select("doc_id"), pairs)


@register("pipeline_keep_best_dedup", f"""
WITH _kb_cc AS ({dd.sql_connected_components(
    "SELECT doc_id FROM documents UNION ALL "
    "SELECT doc_id + 10000 FROM documents WHERE doc_id < 50",
    _with_docs2(dd.sql_minhash_lsh_pairs("docs2"))
    .replace("SELECT id_a, id_b, est_jaccard FROM pairs",
             "SELECT id_a, id_b FROM pairs WHERE est_jaccard >= 0.5"))}),
{_DOCS2_SQL.strip()},
_kb_tok AS (
  SELECT doc_id, CAST(len({{toks}}) AS BIGINT) AS toks FROM docs2
),
_kb_prio AS (
  SELECT c.component,
         t.toks * 1000000 + (999999 - c.doc_id) AS prio
  FROM _kb_cc c JOIN _kb_tok t ON t.doc_id = c.doc_id
)
SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(999999 - max(prio) % 1000000 AS BIGINT) AS kept_doc_id,
       CAST(max(prio) // 1000000 AS BIGINT) AS kept_tokens
FROM _kb_prio GROUP BY component
""".replace("{toks}", tx.sql_tokens("text")))
def pipeline_keep_best_dedup(spark, sf_dir):
    """Quality-priority near-dup resolution: per cluster keep the BEST
    document, not the arbitrary min-id one — here best = most tokens
    (the keep-longest rule production curation uses when near-dups
    differ by truncation), ties to the lower doc_id. The two-level
    preference packs into ONE integer priority
    (tokens·1e6 + (999999 − doc_id), doc_ids < 1e6 by contract) so
    the per-cluster argmax is a single map-side-combinable MAX — no
    window, no struct-ordering portability risk — and the kept id and
    token count unpack arithmetically. The doc_id < 1e6 contract is
    ENFORCED, not assumed: an in-plan assert_true fails the job on
    the first out-of-range id instead of silently unpacking a wrong
    kept_doc_id (negative-remainder semantics) at a larger sf.
    Clusters come from the same LSH → connected-components path as
    dedup_clusters; the extra cost over min-id keep is one
    broadcast-able join against per-doc token counts."""
    docs = _docs2(spark, sf_dir)
    pairs = dd.minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= 0.5)
    cc = dd.connected_components(docs.select("doc_id"), pairs)
    toks = docs.select(
        "doc_id", F.size(tx.tokens(F.col("text"))).cast("long")
        .alias("toks"))
    # assert_true yields NULL when the guard holds, so coalesce(.., 0)
    # folds it into the priority as +0 — zero value change, but any
    # doc_id >= 1e6 aborts the job loudly instead of corrupting prio.
    guard = F.coalesce(
        F.assert_true(
            F.col("doc_id") < F.lit(1000000),
            F.lit("pipeline_keep_best_dedup: doc_id >= 1e6 would break "
                  "the packed tokens*1e6 priority")).cast("long"),
        F.lit(0).cast("long"))
    prio = (F.col("toks") * F.lit(1000000)
            + (F.lit(999999) - F.col("doc_id")) + guard)
    return (
        cc.join(toks, "doc_id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.max(prio).alias("_prio"))
        .select("component", "n_docs",
                (F.lit(999999) - F.col("_prio") % F.lit(1000000))
                .cast("long").alias("kept_doc_id"),
                F.expr("div(_prio, 1000000)").cast("long")
                .alias("kept_tokens"))
    )


@register("dedup_cluster_sizes", f"""
WITH cc AS (
  SELECT * FROM ({dd.sql_connected_components(
    "SELECT doc_id FROM documents UNION ALL "
    "SELECT doc_id + 10000 FROM documents WHERE doc_id < 50",
    _with_docs2(dd.sql_minhash_lsh_pairs("docs2"))
    .replace("SELECT id_a, id_b, est_jaccard FROM pairs",
             "SELECT id_a, id_b FROM pairs WHERE est_jaccard >= 0.5"))})),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS sz
  FROM cc GROUP BY component)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       CAST(CASE WHEN sz > 1 THEN (sz - 1) * count(*) ELSE 0 END
            AS BIGINT) AS n_removable
FROM sizes GROUP BY sz
""")
def dedup_cluster_sizes(spark, sf_dir):
    """Dup-cluster size histogram — the dedup AUDIT a corpus run
    publishes before committing deletions: how many near-dup
    clusters exist at each size, how many documents they hold, and
    how many a keep-one-per-cluster policy would remove (Σ(size−1)).
    Two tiny keyed rollups over the existing connected-components
    output — the histogram answers 'is dedup removing 2% or 40% of
    the corpus?' BEFORE the delete, the number a 100 TB run wants
    reviewed by a human. Exact integers throughout."""
    docs = _docs2(spark, sf_dir)
    pairs = dd.minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= 0.5)
    cc = dd.connected_components(docs.select("doc_id"), pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.col("sz").alias("cluster_size"), "n_clusters",
                (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
                F.when(F.col("sz") > 1,
                       (F.col("sz") - 1) * F.col("n_clusters"))
                .otherwise(F.lit(0)).cast("long").alias("n_removable"))
    )


@register("sim_dim_mean_report", f"""
WITH e AS (
  SELECT unnest(list_transform(generate_series(1, {_EMB_DIM}),
         i -> {{'dim': i - 1,
                'v': CAST(floor(CAST(embedding[i] AS DOUBLE)
                                * 1000000.0 + 0.5)
                          AS BIGINT)}})) AS _s
  FROM embeddings)
SELECT _s.dim AS dim_idx,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(_s.v) AS BIGINT) AS sum_micro,
       CAST(sum(_s.v) AS DOUBLE) / 1000000.0 / count(*) AS mean
FROM e GROUP BY _s.dim
""")
def sim_dim_mean_report(spark, sf_dir):
    """Embedding-hygiene report: the per-dimension mean across the
    corpus — the anisotropy check that catches collapsed or biased
    dimensions (a healthy isotropic embedding has every per-dim mean
    near 0; a dimension stuck at a constant screams preprocessing
    bug). The norm check is degenerate here (vectors are
    unit-normalized — itself verified by sim_cosine machinery), so
    the dimension means are the informative hygiene axis. Elements
    quantize to integer micros BEFORE summing, so the 64 per-dim
    sums are exact under any reduction order; the mean is one final
    float division. posexplode + a 64-key map-side-combined rollup —
    one fact-sized explode, bounded output."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim_idx", "_x"))
    return (
        ex.groupBy("dim_idx")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.col("_x") * 1000000.0 + F.lit(0.5))
                   .cast("long")).alias("sum_micro"))
        .select(F.col("dim_idx").cast("long").alias("dim_idx"), "n",
                "sum_micro",
                (F.col("sum_micro").cast("double") / 1000000.0
                 / F.col("n")).alias("mean"))
    )


@register("sim_ivf_ann",
          sim.sql_ivf_ann_topk("embeddings", _QUERY_IDS, _EMB_DIM, k=5))
def sim_ivf_ann(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer + inverted lists + 2-probe
    search — the clustered counterpart to sign-LSH bucketing."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.ivf_ann_topk(emb, _QUERY_IDS, _EMB_DIM, k=5)


_IVF_ASSIGN_ORACLE = expand_round6(f"""
WITH _ia_cents AS (
  SELECT vec_id AS centroid_id, embedding AS _cvec
  FROM embeddings WHERE vec_id < {sim.IVF_N_CENTROIDS}),
_ia_v AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ({sim.sql_dot('embedding', 'embedding', _EMB_DIM)}) <> 0.0)
SELECT vec_id, centroid_id, assign_cos FROM (
  SELECT v.vec_id, c.centroid_id,
         ROUND6({sim.sql_cosine('v.embedding', 'c._cvec', _EMB_DIM)})
           AS assign_cos,
         row_number() OVER (PARTITION BY v.vec_id
           ORDER BY ROUND6({sim.sql_cosine('v.embedding', 'c._cvec',
                                           _EMB_DIM)}) DESC,
                    c.centroid_id ASC) AS rn
  FROM _ia_v v CROSS JOIN _ia_cents c) WHERE rn = 1
""")


def _ivf_assign_frame(emb, cents_src=None):
    """Shared (vec_id, centroid_id, assign_cos) assignment: broadcast
    constant-size centroid set, map-side cosine, per-vector argmax via
    max_by (ties to the lower centroid id — struct comparison is
    lexicographic). Zero-norm vectors are unclassifiable and excluded
    identically in the oracle (the ncm-entry contract). ``cents_src``
    overrides the centroid source (the streaming twin trains the model
    batch-side and assigns each micro-batch against it)."""
    v = emb.filter(
        sim.dot(F.col("embedding"), F.col("embedding")) != F.lit(0.0))
    cents = F.broadcast(
        (cents_src if cents_src is not None else emb)
        .filter(F.col("vec_id") < sim.IVF_N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("_cvec"),
            sim.norm_col(F.col("embedding")).alias("_cn")))
    # per-side norms hoisted below the n×K join (sim.l2sq_pre note)
    scored = v.select(
        "vec_id", "embedding",
        sim.norm_col(F.col("embedding")).alias("_vn")
    ).crossJoin(cents).select(
        "vec_id", "centroid_id",
        round_portable(sim.cosine_pre(
            sim.dot(F.col("embedding"), F.col("_cvec")),
            F.col("_vn"), F.col("_cn")))
        .alias("_c"))
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("centroid_id"), F.col("_c").alias("_cc")),
            F.struct(F.col("_c").alias("_s"),
                     (-F.col("centroid_id")).alias("_nid"))).alias("_b"))
    return best.select(
        "vec_id", F.col("_b.centroid_id").alias("centroid_id"),
        F.col("_b._cc").alias("assign_cos"))


@register("sim_ivf_assign", _IVF_ASSIGN_ORACLE)
def sim_ivf_assign(spark, sf_dir):
    """IVF COARSE ASSIGNMENT as a first-class output (round 14): the
    (vector -> inverted list) table itself — the artifact an index
    BUILD pipeline materializes and stores, where sim_ivf_ann is the
    search side that consumes it. One corpus scan, constant-size
    broadcast centroids, map-side scoring, and the shuffle carries
    ONE row per vector (the max_by partial combine), not the n x K
    scored product. assign_cos rides along so the oracle pins the
    scoring arithmetic, not just the argmax."""
    emb = load(spark, sf_dir, "embeddings")
    return _ivf_assign_frame(emb)


@register("streaming_ivf_assign", ORACLES["sim_ivf_assign"])
def streaming_ivf_assign(spark, sf_dir):
    """INDEX-BUILD-ON-INGEST: the IVF coarse assignment maintained as
    vectors ARRIVE — the production shape of a continuously-updated
    ANN index (centroids are a trained constant-size model, broadcast
    batch-side; every arriving embedding is assigned map-side). The
    per-vector argmax runs INSIDE foreachBatch (batch-local: each
    vector's row lives in exactly one micro-batch), so the stream
    holds ZERO keyed state at any corpus size — the same
    bounded-ingest contract as streaming_bpe_fertility, auditable by
    tools/state_schema_audit.py --growth. Each batch OVERWRITES its
    own batch-id-keyed spill subdir, so foreachBatch's at-least-once
    replay converges instead of duplicating (the exactly-once
    foreachBatch sink pattern). Graded against the SAME oracle as the
    batch twin."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    emb = load(spark, sf_dir, "embeddings")
    # the batch's vectors against the static centroid model: the shared
    # helper broadcasts centroids and max_by-combines per vector, all
    # batch-local
    spill, _q = _run_stream_to_spill(
        spark, _table_stream(spark, sf_dir, "embeddings"), "ivf_assign",
        "vec_id long, centroid_id long, assign_cos double",
        lambda b, _bid: _ivf_assign_frame(b, cents_src=emb))
    return spill


@register("sim_pq_codes", sim.sql_pq_codes("embeddings", _EMB_DIM))
def sim_pq_codes(spark, sf_dir):
    """Product-quantization encoding: 4 sub-codebooks of 16 entries
    compress each 64-float vector to 4 codes (64× smaller) — the
    memory side of billion-scale ANN (IVF prunes candidates, PQ
    shrinks per-candidate cost; Jegou 2011). Broadcast codebook,
    map-side scoring, one (vector, subspace) row shuffled into the
    min_by argmin; per-subspace err_micro is the trainer's
    monitoring signal. See functions/similarity.py:pq_codes."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.pq_codes(emb, _EMB_DIM)


@register("sim_pq_adc_topk",
          sim.sql_pq_adc_topk("embeddings", _QUERY_IDS, _EMB_DIM, k=5))
def sim_pq_adc_topk(spark, sf_dir):
    """ADC top-5 search over PQ codes: per-query distance tables
    (broadcast, m x 16 integers each) + code lookups + one
    (query, vector) partial-sum shuffle — nearest neighbors scored
    WITHOUT touching the original floats, the compressed-corpus scan
    of billion-vector search. Integer micro distances end to end.
    See functions/similarity.py:pq_adc_topk (Jegou 2011 §IV)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.pq_adc_topk(emb, _QUERY_IDS, _EMB_DIM, k=5)


# ===========================================================================
# Composed curation pipeline + embedding-cosine near-dup
# ===========================================================================

_CURATION_CLUSTERS_SQL = dd.sql_connected_components(
    "SELECT doc_id FROM docs2",
    _with_docs2(dd.sql_minhash_lsh_pairs("docs2"))
    .replace("SELECT id_a, id_b, est_jaccard FROM pairs",
             "SELECT id_a, id_b FROM pairs WHERE est_jaccard >= 0.5")
).strip().removeprefix("WITH RECURSIVE")


@register("pipeline_curation", expand_round6(f"""
WITH RECURSIVE {_DOCS2_SQL},
quality AS ({tx.sql_quality_stats('docs2')}),
langs AS ({tx.sql_lang_id('docs2')}),
comp AS ({'WITH RECURSIVE' + _CURATION_CLUSTERS_SQL}),
kept AS (SELECT doc_id FROM comp WHERE component = doc_id)
SELECT d.doc_id, l.pred_lang,
       q.quality_score, q.n_tokens
FROM docs2 d
JOIN kept k ON k.doc_id = d.doc_id
JOIN quality q ON q.doc_id = d.doc_id
JOIN langs l ON l.doc_id = d.doc_id
WHERE q.quality_score >= 0.3 AND q.n_tokens >= 50
"""))
def pipeline_curation(spark, sf_dir):
    """The training-data curation pipeline composed end-to-end: NEAR-dup
    cluster keep-list ∩ quality gate ∩ language ID — the canonical shape
    of a 100 TB pretraining filter (each stage is an independent
    map-side computation; the only shuffles are the dedup groupBy and
    the final broadcast-able keep-list joins)."""
    df, _ = curation_with_lineage(spark, sf_dir)
    return df


def curation_with_lineage(spark, sf_dir):
    """``pipeline_curation`` plus its filter-funnel audit: returns
    (result, {stage: Observation}) where each Observation carries the
    row count surviving that stage — the P18 observable-metric pattern
    (operators/stateless.py:log_passthrough) applied per drop point, so
    a 100 TB run can report how many documents each of its three
    filters removed from the QueryProgress/Observation channel without
    a second scan or any change to the data path (CollectMetrics is a
    pass-through node). Stages: ``input`` (corpus size) → ``deduped``
    (near-dup keep-list survivors) → ``final`` (quality + language
    gate survivors); drops are the deltas."""
    from pyspark import InheritableThread
    from pyspark.sql import Observation

    from ..operators import cache

    obs = {"input": Observation("curation_input"),
           "deduped": Observation("curation_deduped"),
           "final": Observation("curation_final")}
    docs = _docs2(spark, sf_dir)
    # r18 overlap (guide §2.6 — the r17 verdict's task 7): the CC
    # keep-list below runs as a ladder of sequential driver-blocking
    # jobs (edge materialize + one join per propagation sweep) whose
    # stage tails idle most executors, while quality and lang-id are
    # INDEPENDENT subtrees consumed only by the final joins. Persist
    # both and materialize them from a driver thread so the default
    # FIFO scheduler back-fills the sweep tails with their tasks;
    # values are untouched (persist is semantically transparent, the
    # final joins read the same frames, and the thread only runs noop
    # writes). force=True: both frames are multi-consumer here (the
    # overlap action + the final join) and mapInPandas/HOF outputs
    # carry useless size estimates (the r12 lesson).
    quality = cache.maybe_persist(tx.quality_stats(docs), force=True)
    langs = cache.maybe_persist(tx.lang_id(docs), force=True)

    # a thread's exception dies with the thread; keep it and re-raise
    # on the caller's thread once the overlap ends
    gate_errors: list[Exception] = []

    def _materialize_gates():
        try:
            spark.sparkContext.setJobDescription(
                "curation: quality+lang gates (overlapped with CC)")
            quality.write.format("noop").mode("overwrite").save()
            langs.write.format("noop").mode("overwrite").save()
        except Exception as e:
            gate_errors.append(e)

    warm = InheritableThread(target=_materialize_gates)
    warm.start()
    try:
        # near-dup keep-list: LSH pairs -> connected components -> keep
        # the min-id representative of every cluster (subsumes exact
        # dedup)
        pairs = dd.minhash_lsh_pairs(docs).filter(
            F.col("est_jaccard") >= 0.5)
        comp = dd.connected_components(docs.select("doc_id"), pairs)
        kept = (comp.filter(F.col("component") == F.col("doc_id"))
                .select("doc_id"))
    finally:
        warm.join()
    if gate_errors:
        raise gate_errors[0]
    # observe nodes live ONLY on the final chain: wrapping the shared
    # _docs2 subtree would replicate the CollectMetrics node into every
    # branch (quality/lang/LSH/CC) and its metric into each of their
    # actions; here "input" counts the corpus rows entering the keep
    # join — the same number — paid once on the result's own action.
    deduped = (docs.observe(obs["input"], F.count(F.lit(1)).alias("rows"))
               .join(kept, "doc_id")
               .observe(obs["deduped"], F.count(F.lit(1)).alias("rows")))
    result = (
        deduped
        .join(quality, "doc_id")
        .join(langs, "doc_id")
        .filter((F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 50))
        .select("doc_id", "pred_lang", "quality_score", "n_tokens")
        .observe(obs["final"], F.count(F.lit(1)).alias("rows"))
    )
    return result, obs


@register("dedup_embedding_cosine", expand_round6(f"""
WITH s AS (SELECT vec_id, embedding,
                  {sim.sql_lsh_signature('embedding', _EMB_DIM)} AS _b
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND6({sim.sql_cosine('a.embedding', 'b.embedding', _EMB_DIM)})
           AS cosine
  FROM s a JOIN s b ON a._b = b._b AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.3
"""))
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket equi-join
    (never all-pairs) then exact cosine >= threshold within buckets."""
    emb = load(spark, sf_dir, "embeddings")
    # per-row norm hoisted below the bucket self-join (sim.l2sq_pre
    # note): inline cosine re-folds both sides' self-dots per PAIR
    with_sig = emb.select(
        "vec_id", "embedding",
        sim.lsh_signature(F.col("embedding"), _EMB_DIM).alias("_b"),
        sim.norm_col(F.col("embedding")).alias("_n"))
    a, b = with_sig.alias("a"), with_sig.alias("b")
    pairs = (
        a.join(b, (F.col("a._b") == F.col("b._b"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            round_portable(
                sim.cosine_pre(sim.dot(F.col("a.embedding"),
                                       F.col("b.embedding")),
                               F.col("a._n"), F.col("b._n")))
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )
    return pairs


@register("dedup_semantic", expand_round6(f"""
WITH _sd_cent_rows AS ({sim.sql_kmeans_centroids('embeddings', _EMB_DIM,
                                                 k=_SEMDEDUP_K_SQL)}),
_sd_cents AS (
  SELECT centroid_id, list(centroid ORDER BY dim) AS cvec
  FROM _sd_cent_rows GROUP BY 1),
_sd_assign AS (
  SELECT vec_id, embedding,
         sqrt({sim.sql_dot('embedding', 'embedding', _EMB_DIM)}) AS nrm,
         centroid_id AS cluster, d AS dmin FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROUND6({sim.sql_l2sq('e.embedding', 'c.cvec', _EMB_DIM)}) AS d,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND6({sim.sql_l2sq('e.embedding', 'c.cvec',
                                           _EMB_DIM)}) ASC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN _sd_cents c) WHERE rn = 1),
_sd_pairs AS (
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND6(({sim.sql_dot('a.embedding', 'b.embedding', _EMB_DIM)})
                / nullif(a.nrm * b.nrm, 0.0)) AS cosine,
         a.dmin AS da, b.dmin AS db
  FROM _sd_assign a JOIN _sd_assign b
    ON b.cluster = a.cluster AND a.vec_id < b.vec_id)
SELECT cluster, id_a, id_b, cosine,
       CASE WHEN da > db THEN id_a WHEN db > da THEN id_b
            ELSE least(id_a, id_b) END AS kept_id,
       CASE WHEN da > db THEN id_b WHEN db > da THEN id_a
            ELSE greatest(id_a, id_b) END AS dropped_id
FROM _sd_pairs WHERE cosine >= 0.3
"""))
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023): k-means-cluster the embedding corpus (the
    oracle-checked Lloyd trainer of sim_kmeans_centroids), then find
    near-duplicate pairs by exact cosine WITHIN each cluster and keep
    the member FARTHEST from its centroid (the paper's keep rule —
    exemplars over prototypes; ties to the lower id). Clustering is
    what makes semantic dedup tractable at 100 TB: candidate
    generation is O(sum of cluster sizes squared), never all-pairs,
    and the cluster count is now STRUCTURALLY a function of corpus
    size — K = max(8, n // _SEMDEDUP_TARGET) (_semdedup_k), so
    average cluster size is pinned at ~_SEMDEDUP_TARGET (64) and
    the pair fan-out bound holds as the corpus grows, exactly like
    the LSH band/row and containment max_df dials enforce theirs
    (round-9 used a constant K=32 that the docstring merely PROMISED
    would scale; the n-row probe is a parquet-metadata count, the
    oracle computes the same K via a scalar subquery). Assignment is
    one broadcast join + min_by (one row per vector shuffled); the
    pair join is a cluster-keyed equi-join. Per-vector norms are
    precomputed at assignment time so each candidate pair costs ONE
    dot-product fold, not three (HOF lambdas defeat CSE — the norms
    would otherwise re-fold per pair)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, _EMB_DIM,
                                 k=_semdedup_k(emb.count()))
    cvec = cents.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("dim", F.col("centroid").alias("val")))),
            lambda s: s["val"]).alias("_cv"))
    # self-dots hoisted below the n×k assignment join (sim.l2sq_pre)
    scored = emb.select(
        "vec_id", "embedding",
        sim.dot(F.col("embedding"), F.col("embedding")).alias("_vv")
    ).crossJoin(F.broadcast(cvec.withColumn(
        "_ccd", sim.dot(F.col("_cv"), F.col("_cv"))))).select(
        "vec_id", "embedding", "centroid_id",
        round_portable(sim.l2sq_pre(
            F.col("_vv"),
            sim.dot(F.col("embedding"), F.col("_cv")),
            F.col("_ccd")))
        .alias("_d"))
    assign = scored.groupBy("vec_id").agg(
        F.min_by(
            F.struct(F.col("centroid_id"), F.col("embedding"),
                     F.col("_d")),
            F.struct(F.col("_d"), F.col("centroid_id")),
        ).alias("_b")
    ).select("vec_id", F.col("_b.centroid_id").alias("cluster"),
             F.col("_b.embedding").alias("embedding"),
             F.sqrt(sim.dot(F.col("_b.embedding"), F.col("_b.embedding")))
             .alias("nrm"),
             F.col("_b._d").alias("dmin"))
    a, b = assign.alias("a"), assign.alias("b")
    pairs = (
        a.join(b, (F.col("b.cluster") == F.col("a.cluster"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.cluster").alias("cluster"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            round_portable(
                sim.dot(F.col("a.embedding"), F.col("b.embedding"))
                / F.nullif(F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)))
            .alias("cosine"),
            F.col("a.dmin").alias("_da"), F.col("b.dmin").alias("_db"))
        .filter(F.col("cosine") >= 0.3))
    keep_a = F.col("_da") > F.col("_db")
    keep_b = F.col("_db") > F.col("_da")
    return pairs.select(
        "cluster", "id_a", "id_b", "cosine",
        F.when(keep_a, F.col("id_a")).when(keep_b, F.col("id_b"))
        .otherwise(F.least("id_a", "id_b")).alias("kept_id"),
        F.when(keep_a, F.col("id_b")).when(keep_b, F.col("id_a"))
        .otherwise(F.greatest("id_a", "id_b")).alias("dropped_id"))


@register("dedup_winnowing",
          _with_docs2(dd.sql_winnowing_pairs("docs2")))
def dedup_winnowing(spark, sf_dir):
    """Winnowing/MOSS fingerprint dedup (Schleimer 2003) — the LOCAL
    exact-substring axis of the dedup suite (Lee et al., ACL 2022
    motivates it for training data): any shared substring of
    w + k - 1 = 23+ characters is guaranteed to surface a shared
    selected fingerprint, catching copied passages the set-similarity
    detectors dilute away. The keep verdict is RELATIVE (shared
    fingerprints >= 80% of the smaller doc's selection, integer-domain
    compare) so the planted near-dups surface without the background
    substring overlap a small-vocabulary corpus always has. Pure
    map-side selection (k-gram md5 array computed once via the
    aggregate-zero pattern — HOF lambdas defeat CSE), fingerprint
    equi-join with the max_df hot-fingerprint cap; see
    functions/dedup.py:winnowing_pairs."""
    return dd.winnowing_pairs(_docs2(spark, sf_dir))


@register("dedup_span_exact", dd.sql_span_dedup_report("documents"))
def dedup_span_exact(spark, sf_dir):
    """ExactSubstr duplicated-span report (Lee et al., ACL 2022,
    "Deduplicating Training Data Makes Language Models Better") — the
    span-LEVEL dedup axis the pair detectors don't cover: for each
    document, how many of its tokens sit inside a maximal span whose
    5-token grams occur >= 2 times in the whole corpus (another doc or
    elsewhere in the same one). This is the signal ExactSubstr uses to
    CUT boilerplate spans rather than drop whole documents — on a
    100 TB web corpus most duplication is partial (headers, footers,
    quoted passages), invisible to document-granularity verdicts.

    100 TB shape (no suffix array needed): linear map-side gram table,
    one groupBy on a uniform md5-64 gram hash, a semi-join that can
    only SHRINK the gram table (each position matches at most once —
    no pair fan-out, hence no hot-gram cap), and a gaps-and-islands
    interval merge in a per-DOCUMENT window (bounded by doc length,
    never a global sort). See functions/dedup.py:span_dedup_report."""
    return dd.span_dedup_report(load(spark, sf_dir, "documents"))


@register("pipeline_span_scrub", dd.sql_span_scrub("documents"))
def pipeline_span_scrub(spark, sf_dir):
    """The ExactSubstr CUT that dedup_span_exact only measures (Lee et
    al., ACL 2022 §4.2): every duplicated span removed from every
    document, verified by HASH of the reconstructed text — the
    actionable operator a training-data pipeline actually runs, and
    the strictest oracle form short of shipping the strings (the md5
    pins token identity AND order cross-engine). Shares the
    span_islands core with the report twin, so the two entries cannot
    drift apart. Position explode is map-side; span membership is a
    per-doc anti-join against DISJOINT intervals (<= 1 match per
    token, no fan-out); the rebuild is one per-doc groupBy with an
    order-pinned aggregation. See functions/dedup.py:span_scrub."""
    return dd.span_scrub(load(spark, sf_dir, "documents"))


@register("text_bpe_pair_stats", f"""
WITH _bp_wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT unnest({tx.sql_tokens('text')}) AS w FROM documents)
  GROUP BY w
),
_bp_pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, CAST(i AS INTEGER), 2)))
           AS pair,
         f
  FROM _bp_wf WHERE length(w) >= 2
),
_bp_counts AS (
  SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count
  FROM _bp_pairs GROUP BY pair
)
SELECT pair, pair_count, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY pair_count DESC, pair ASC)
        AS rank FROM _bp_counts)
WHERE rank <= 20
""")
def text_bpe_pair_stats(spark, sf_dir):
    """BPE merge-candidate statistics (Sennrich, Haddow, Birch, "Neural
    Machine Translation of Rare Words with Subword Units", ACL 2016):
    the first iteration of the BPE trainer — corpus-wide counts of
    adjacent symbol (character) pairs weighted by word frequency, top
    20 by count — exactly the table the trainer's merge step argmaxes
    over. A tokenizer-training pipeline at 100 TB computes this table
    repeatedly; the shape here is the scale-safe one: the corpus
    collapses to the word-frequency dictionary FIRST (one shuffle
    keyed by word, map-side combined), then pairs explode from the
    vocabulary — which is orders of magnitude smaller than the corpus
    — and the final top-k windows a pair table bounded by charset².
    Intra-word pairs only (no end-of-word marker; documented choice,
    identical both engines). Ties rank by pair text for determinism."""
    docs = load(spark, sf_dir, "documents")
    wf = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    # length(w) >= 2 guard on BOTH sides: Spark's sequence(1, 0) steps
    # BACKWARDS ([1, 0]) where DuckDB's generate_series(1, 0) is empty,
    # so unguarded single-char words leak truncated "pairs" only in
    # Spark (caught by the oracle on first run)
    pairs = wf.filter(F.length("w") >= 2).select(
        "f",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> substring(w, i, 2))")).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.sum("f").alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 20)
            .select("pair", "pair_count",
                    F.col("rank").cast("int").alias("rank")))


def _bpe_sql_iter(k: int, apply_merge: bool) -> str:
    """One unrolled BPE-trainer iteration for the DuckDB oracle: pair
    counts from _bt_s{k-1}, argmax merge _bt_b{k}, and (when
    apply_merge) the merged vocab _bt_s{k} via the RUN-PARITY window
    spelling of greedy leftmost non-overlapping matching: consecutive
    matching positions can only chain when the pair is (a, a), and
    greedy selection within such a run takes its 1st, 3rd, 5th...
    member — i.e. odd index-in-run, a gaps-and-islands window. A
    position is dropped iff its predecessor was selected (consumed)."""
    prev = f"_bt_s{k - 1}"
    parts = [f"""_bt_p{k} AS (
  SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(s) - 1),
             i -> s[CAST(i AS INTEGER)])) AS a,
           unnest(list_transform(generate_series(1, len(s) - 1),
             i -> s[CAST(i AS INTEGER) + 1])) AS b,
           f
    FROM {prev} WHERE len(s) >= 2)
  GROUP BY a, b)""",
             f"""_bt_b{k} AS MATERIALIZED (
  SELECT a, b, a || b AS m, cnt FROM _bt_p{k}
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"""]
    if apply_merge:
        parts.append(f"""_bt_x{k} AS (
  SELECT w, f, CAST(i AS INTEGER) AS i, s[CAST(i AS INTEGER)] AS sym,
         CASE WHEN CAST(i AS INTEGER) < len(s)
               AND s[CAST(i AS INTEGER)] = (SELECT a FROM _bt_b{k})
               AND s[CAST(i AS INTEGER) + 1] = (SELECT b FROM _bt_b{k})
              THEN 1 ELSE 0 END AS mt
  FROM (SELECT w, f, s, unnest(generate_series(1, len(s))) AS i
        FROM {prev}))""")
        parts.append(f"""_bt_sel{k} AS (
  SELECT w, f, i, sym,
         CASE WHEN mt = 1 AND (row_number() OVER
                (PARTITION BY w, grp ORDER BY i)) % 2 = 1
              THEN 1 ELSE 0 END AS sel
  FROM (SELECT *, CASE WHEN mt = 1 THEN i - row_number() OVER
               (PARTITION BY w, mt ORDER BY i) END AS grp
        FROM _bt_x{k}))""")
        # MATERIALIZED: each generation is referenced twice (pair
        # counts + apply) — default CTE inlining doubles the plan per
        # iteration and hangs the planner at the 30-merge unrolling
        # (the round-10 MMR lesson); _bt_b{k} likewise backs 3+ scalar
        # subquery references.
        parts.append(f"""_bt_s{k} AS MATERIALIZED (
  SELECT w, f,
         list(CASE WHEN sel = 1 THEN (SELECT m FROM _bt_b{k})
                   ELSE sym END ORDER BY i) AS s
  FROM (SELECT *, lag(sel, 1, 0) OVER (PARTITION BY w ORDER BY i)
          AS psel FROM _bt_sel{k})
  WHERE psel = 0
  GROUP BY w, f)""")
    return ",\n".join(parts)


# Word-frequency model cap: BPE trains on the collapsed (word, freq)
# table, not the corpus — cap it at the top-K words by (freq desc,
# word asc) so the trainer input is a BOUNDED model artifact at any
# corpus size (HF tokenizers / SentencePiece train exactly this way).
# At the sf corpora the cap never binds; at 100 TB it is what makes
# the driver-side merge loop legitimate.
_BPE_VOCAB_CAP = 65536


def _bpe_merge_syms(s: list, a: str, b: str, m: str) -> list:
    """Greedy leftmost non-overlapping application of one merge rule
    to a symbol list — the python twin of the oracle's run-parity
    window spelling (greedy == odd-index-in-run selection; pinned by
    tests/test_round13.py against an independent regex reference)."""
    out, i, n = [], 0, len(s)
    while i < n:
        if i + 1 < n and s[i] == a and s[i + 1] == b:
            out.append(m)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _bpe_train(docs, n_merges, apply_last, cap=None):
    """Shared BPE trainer (Sennrich 2016 §3.2): collapse the corpus to
    the capped word-frequency vocabulary with ONE map-side-combined
    shuffle + TakeOrdered, collect that bounded model input, and run
    the merge loop driver-side. Returns (vocab list of (w, f, syms),
    merge dicts (rank, a, b, m, cnt)). ``cap`` overrides
    _BPE_VOCAB_CAP (tests shrink it to force the OOV fallback path;
    entries keep the default).

    Why driver-side: the trainer input is model-sized BY CONSTRUCTION
    (<= _BPE_VOCAB_CAP words), and a distributed merge loop pays ~1 s
    of scheduling + codegen per iteration to process it — 30 rules
    took 27 s distributed vs < 1 s here, with the heavy half (the
    corpus collapse) still fully distributed. Same sample-then-train
    shape as the PQ codebooks: fit a constant-size artifact from a
    bounded input, broadcast it back. The earlier frame-chained loop
    also hit the round-10 EXPONENTIAL-PLAN trap (each generation
    referenced twice), which is why it shipped with only 3 merges."""
    rows = (docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("f"))
            .orderBy(F.col("f").desc(), F.col("w").asc())
            .limit(_BPE_VOCAB_CAP if cap is None else cap).collect())
    vocab = [(r["w"], int(r["f"]), list(r["w"])) for r in rows]
    merges = []
    for rank in range(1, n_merges + 1):
        cnt: dict = {}
        for _w, f, s in vocab:
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                cnt[p] = cnt.get(p, 0) + f
        if not cnt:
            # pair supply exhausted: stop. The oracle's remaining
            # iterations run over the unchanged vocab, find no pairs,
            # and emit no merge rows — identical by construction.
            break
        a, b = min(cnt, key=lambda p: (-cnt[p], p[0], p[1]))
        merges.append({"rank": rank, "a": a, "b": b, "m": a + b,
                       "cnt": cnt[(a, b)]})
        if rank < n_merges or apply_last:
            vocab = [(w, f, _bpe_merge_syms(s, a, b, a + b))
                     for w, f, s in vocab]
    return vocab, merges


_BPE_SQL_PRELUDE = f"""_bt_wf AS (
  SELECT w, f FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
      SELECT unnest({tx.sql_tokens('text')}) AS w FROM documents)
    GROUP BY w)
  ORDER BY f DESC, w ASC LIMIT {_BPE_VOCAB_CAP}
),
_bt_s0 AS MATERIALIZED (
  SELECT w, f,
         list_transform(generate_series(1, length(w)),
                        i -> substr(w, CAST(i AS INTEGER), 1)) AS s
  FROM _bt_wf
)"""

# 30 merge rules: enough to learn real multi-char subword units from
# the sf corpora (the 3-rule table the first cut shipped was the
# loop's first three unrollings, not a tokenizer). The trainer's cost
# is vocab-sized per iteration on both engines, so N scales freely.
_BPE_N = 30


@register("pipeline_bpe_train", "WITH " + _BPE_SQL_PRELUDE + ",\n"
          + ",\n".join(_bpe_sql_iter(k, k < _BPE_N)
                       for k in range(1, _BPE_N + 1))
          + "\nSELECT CAST(1 AS INTEGER) AS rank, a AS pair_a, "
            "b AS pair_b, m AS merged, cnt AS pair_count FROM _bt_b1\n"
          + "\n".join(
              f"UNION ALL SELECT CAST({k} AS INTEGER), a, b, m, cnt "
              f"FROM _bt_b{k}" for k in range(2, _BPE_N + 1)))
def pipeline_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING — the first three merge rules (Sennrich
    2016 §3.2), not just the first pair table (text_bpe_pair_stats is
    iteration 1's counting step): per iteration, count adjacent symbol
    pairs weighted by word frequency, argmax by (count, pair) —
    deterministic tie-break — then apply the merge greedily
    (leftmost, non-overlapping) to every word and recount. Output is
    the learned merge table (rank, pair, merged symbol, count), i.e.
    the artifact a tokenizer ships.

    Scale shape (the reason BPE training is feasible at 100 TB): the
    corpus collapses ONCE to the word-frequency vocabulary (one
    map-side-combined shuffle — the same table every subsequent
    iteration reuses), so each merge iteration is vocabulary-sized,
    not corpus-sized: a pair-explode bounded by total vocab chars, a
    partial-agg groupBy bounded by symbol-alphabet², a 1-row
    TakeOrdered argmax broadcast back, and a ZERO-shuffle per-row
    merge fold. Nothing in the loop ever rescans the documents table.

    The merge itself is one F.aggregate fold per word (greedy
    left-to-right with a skip flag over the ORIGINAL symbols — a
    merged pair cannot re-match within the same iteration since the
    new symbol differs from both halves). The oracle spells the same
    greedy semantics relationally: runs of consecutive matches (only
    possible for (a, a) pairs) select odd index-in-run members via a
    gaps-and-islands window, and a position is dropped iff its
    predecessor was selected. Cross-engine equality of the two
    spellings is exactly the greedy == run-parity equivalence.
    Empty-pair corpora yield zero rows on both sides (TakeOrdered of
    an empty table vs LIMIT 1 of an empty CTE). Round 13 grew the
    loop from its first 3 unrollings to the full _BPE_N=30 rank
    table — the artifact a tokenizer actually ships — which forced
    the collect-and-inline loop shape (see _bpe_train) and
    MATERIALIZED iteration CTEs in the oracle."""
    docs = load(spark, sf_dir, "documents")
    _, merges = _bpe_train(docs, _BPE_N, apply_last=False)
    return spark.createDataFrame(
        [(m["rank"], m["a"], m["b"], m["m"], m["cnt"]) for m in merges],
        "rank int, pair_a string, pair_b string, merged string, "
        "pair_count long")


def _fertility_vocab_df(spark, docs, cap=None):
    """Train the _BPE_N-rule tokenizer and return the bounded
    (word -> token count) model frame — the broadcast artifact both
    fertility entries score through."""
    vocab, _ = _bpe_train(docs, _BPE_N, apply_last=True, cap=cap)
    return spark.createDataFrame(
        [(w, len(s)) for w, _f, s in vocab], "w string, _tl long")


def _fertility_token_len():
    """Per-word token length WITH the OOV byte-fallback: a word beyond
    the _BPE_VOCAB_CAP trained vocabulary encodes character-level
    (len(word) tokens) instead of silently dropping from the metric —
    at crawl vocabulary sizes where the cap binds, an inner join would
    under-report fertility exactly on the long-tail words that inflate
    it. Requires the vocab joined LEFT on column ``_tl``."""
    return F.coalesce(F.col("_tl"), F.length("w").cast("long"))


def _fertility_per_doc(vdf, docs_df):
    """Batch-local per-doc fertility collapse — STATELESS: explode the
    words of the docs in hand, LEFT-join the broadcast vocab (OOV ->
    char-level fallback), aggregate per (lang, doc_id). Each document
    row carries its whole text, so one invocation per micro-batch
    fully collapses every doc in that batch with no cross-batch
    state."""
    dw = docs_df.select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.explode(tx.tokens(F.col("text"))).alias("w"))
    j = dw.join(F.broadcast(vdf), "w", "left")
    return (j.groupBy("lang", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(_fertility_token_len()).alias("n_tokens"),
                 F.sum(F.length("w").cast("long")).alias("_nc")))


def _fertility_finalize(per_doc):
    """(lang, doc_id) fertility rows -> per-language published metric."""
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").alias("n_words"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.sum("_nc").alias("_nc"))
            .select("lang", "n_docs", "n_words", "n_tokens",
                    round_portable(F.col("n_tokens").cast("double")
                                   / F.col("n_words"))
                    .alias("tokens_per_word"),
                    round_portable(F.col("_nc").cast("double")
                                   / F.col("n_tokens"))
                    .alias("chars_per_token")))


def _fertility_spill_writer(vdf, out_dir):
    """The per-doc fertility collapse as an idempotent-replay
    foreachBatch writer (``_spill_writer``)."""
    return _spill_writer(out_dir, lambda b, _bid: _fertility_per_doc(vdf, b))


def _run_fertility_stream(spark, vdf, src_dir, schema,
                          glob="documents.parquet", max_files=None):
    """Score-on-ingest fertility runtime: a file-source docs stream,
    ``foreachBatch`` collapsing each micro-batch's docs to (lang,
    doc_id) rows appended to a spill parquet. ZERO streaming state —
    the per-doc collapse is batch-local (a doc's words all live in its
    own row), so the state store holds nothing and ingest memory is
    bounded at any corpus size (the r13 verdict's last scale-killer:
    the old streaming groupBy kept one state row per doc forever).
    Returns (per_doc DataFrame, recentProgress list) so tests can
    assert the no-state-operator contract structurally."""
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    raw = reader.option("pathGlobFilter", glob).parquet(src_dir)
    per_doc, q = _run_stream_to_spill(
        spark, raw, "bpe_fert",
        "lang string, doc_id long, n_words long, n_tokens long, _nc long",
        lambda b, _bid: _fertility_per_doc(vdf, b))
    return per_doc, list(q.recentProgress)


@register("pipeline_bpe_fertility", expand_round6("WITH "
          + _BPE_SQL_PRELUDE + ",\n"
          + ",\n".join(_bpe_sql_iter(k, True)
                       for k in range(1, _BPE_N + 1)) + f""",
_bf_dw AS (
  SELECT doc_id, coalesce(lang, '') AS lang,
         unnest({tx.sql_tokens('text')}) AS w FROM documents),
_bf_j AS (
  SELECT d.doc_id, d.lang,
         CAST(coalesce(len(v.s), length(d.w)) AS BIGINT) AS tl,
         CAST(length(d.w) AS BIGINT) AS wl
  FROM _bf_dw d LEFT JOIN _bt_s{_BPE_N} v ON v.w = d.w)
SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(tl) AS BIGINT) AS n_tokens,
       ROUND6(CAST(sum(tl) AS DOUBLE) / count(*)) AS tokens_per_word,
       ROUND6(CAST(sum(wl) AS DOUBLE) / sum(tl)) AS chars_per_token
FROM _bf_j GROUP BY lang
"""))
def pipeline_bpe_fertility(spark, sf_dir):
    """Tokenizer FERTILITY per language — the metric multilingual
    tokenizer evaluations publish (tokens per word; a tokenizer
    trained on English text fragments non-English words into more
    pieces): train the _BPE_N-rule tokenizer on the whole corpus,
    encode every word through the trained vocab, and aggregate
    tokens/word and chars/token per language. Words beyond the
    _BPE_VOCAB_CAP trained vocabulary encode CHARACTER-LEVEL
    (len(word) tokens — the byte-fallback every production tokenizer
    ships) instead of dropping, so the metric stays faithful at crawl
    vocabulary sizes where the cap binds. One corpus scan + one
    broadcast vocab LEFT join + one partial-aggregated groupBy(lang)
    — the same 100 TB shape as pipeline_bpe_encode, with a
    language-sized output. NULL lang coalesces to '' on both engines
    (the degenerate corpus carries NULLs)."""
    docs = load(spark, sf_dir, "documents")
    vdf = _fertility_vocab_df(spark, docs)
    dw = docs.select("doc_id",
                     F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
                     F.explode(tx.tokens(F.col("text"))).alias("w"))
    j = dw.join(F.broadcast(vdf), "w", "left")
    return (j.groupBy("lang")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_words"),
                 F.sum(_fertility_token_len()).alias("n_tokens"),
                 F.sum(F.length("w").cast("long")).alias("_nc"))
            .select("lang", "n_docs", "n_words", "n_tokens",
                    round_portable(F.col("n_tokens").cast("double")
                                   / F.col("n_words"))
                    .alias("tokens_per_word"),
                    round_portable(F.col("_nc").cast("double")
                                   / F.col("n_tokens"))
                    .alias("chars_per_token")))


@register("streaming_bpe_fertility", ORACLES["pipeline_bpe_fertility"])
def streaming_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility ON INGEST — the train-offline / score-on-
    ingest split every production tokenizer deployment runs: the
    30-rule BPE vocab is trained batch-side (a bounded model,
    broadcast as a static frame), then the LIVE stream collapses each
    arriving micro-batch's documents to (lang, doc_id) fertility rows
    inside ``foreachBatch`` — STATELESS, because a document's words
    all arrive in its own row, so the collapse never needs cross-batch
    state (the r12 version kept one state-store row per doc forever —
    O(corpus) state with no eviction; this holds ZERO state at any
    corpus size, asserted structurally by tests/test_round14.py and
    tools/state_schema_audit.py). OOV words byte-fallback exactly as
    the batch twin. The bounded per-doc spill collapses to
    per-language fertility in the finalize. Graded against the SAME
    oracle as pipeline_bpe_fertility."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = load(spark, sf_dir, "documents")
    vdf = _fertility_vocab_df(spark, docs)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    per_doc, _prog = _run_fertility_stream(spark, vdf, sf_dir, schema)
    return _fertility_finalize(per_doc)


@register("pipeline_bpe_encode", expand_round6("WITH "
          + _BPE_SQL_PRELUDE + ",\n"
          + ",\n".join(_bpe_sql_iter(k, True)
                       for k in range(1, _BPE_N + 1)) + f""",
_be_dw AS (
  SELECT doc_id, unnest({tx.sql_tokens('text')}) AS w FROM documents),
_be_j AS (
  SELECT d.doc_id,
         CAST(coalesce(len(v.s), length(d.w)) AS BIGINT) AS tl,
         CAST(length(d.w) AS BIGINT) AS wl
  FROM _be_dw d LEFT JOIN _bt_s{_BPE_N} v ON v.w = d.w)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(tl) AS BIGINT) AS n_tokens,
       CAST(sum(wl) AS BIGINT) AS n_chars,
       ROUND6(CAST(sum(wl) AS DOUBLE) / sum(tl)) AS chars_per_token
FROM _be_j GROUP BY doc_id
"""))
def pipeline_bpe_encode(spark, sf_dir):
    """ENCODE with the trained tokenizer — the apply half of the BPE
    loop (pipeline_bpe_train learns the merge table; this entry runs
    the resulting tokenizer over the corpus and reports per-doc token
    counts, the number every training-data budget is denominated in).
    Train exactly as the trainer does (_BPE_N=30 merges), apply ALL
    of them to the vocabulary, then the per-doc stats come from joining the
    exploded corpus words to the (word -> token count) vocabulary —
    the corpus is scanned once and never carries symbol lists, so at
    100 TB the expensive artifact (the encoded vocab) stays
    vocab-sized and the per-doc aggregation is one
    partial-aggregated groupBy(doc_id). chars_per_token is the
    compression dial tokenizer evaluations publish (ROUND6-portable;
    every word has >= 1 token so the divisor is never 0; docs with
    no words produce no rows on both engines). Words beyond the
    _BPE_VOCAB_CAP vocabulary byte-fallback to char-level
    (LEFT join + coalesce(len(word)) — same semantics as the
    fertility entries) instead of silently dropping. A degenerate
    corpus that runs out of pairs before rank _BPE_N passes the
    vocab through the remaining ranks unchanged on both sides (the
    Spark loop breaks; the oracle's NULL scalar subquery no-ops).
    The trained (word -> token count) table is rebuilt as a literal
    broadcast frame — the model artifact, bounded by
    _BPE_VOCAB_CAP."""
    docs = load(spark, sf_dir, "documents")
    vdf = _fertility_vocab_df(spark, docs)
    dw = docs.select("doc_id", F.explode(tx.tokens(F.col("text")))
                     .alias("w"))
    j = dw.join(F.broadcast(vdf), "w", "left")
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(_fertility_token_len()).alias("n_tokens"),
                 F.sum(F.length("w").cast("long")).alias("n_chars"))
            .select("doc_id", "n_words", "n_tokens", "n_chars",
                    round_portable(F.col("n_chars").cast("double")
                                   / F.col("n_tokens"))
                    .alias("chars_per_token")))


@register("pipeline_curation_v2", f"""
WITH _cv_gopher AS (
  SELECT doc_id FROM ({tx.sql_gopher_rules('documents')}) WHERE keep
),
_cv_s1 AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN _cv_gopher g ON g.doc_id = d.doc_id
),
_cv_dsir AS ({tx.sql_dsir_weights('documents', "lang = 'en'")}),
_cv_j AS (
  SELECT s.doc_id, s.text, w.dsir_weight_bits AS wb
  FROM _cv_s1 s JOIN _cv_dsir w ON w.doc_id = s.doc_id
),
_cv_wc AS (SELECT wb, CAST(count(*) AS BIGINT) AS c FROM _cv_j GROUP BY wb),
_cv_med AS (
  SELECT min(wb) AS med FROM (
    SELECT wb, sum(c) OVER (ORDER BY wb) AS cum FROM _cv_wc)
  WHERE cum >= ((SELECT sum(c) FROM _cv_wc) + 1) // 2
),
_cv_s2 AS (
  SELECT doc_id, text FROM _cv_j
  WHERE wb >= (SELECT med FROM _cv_med)
),
_cv_pairs AS ({dd.sql_winnowing_pairs('_cv_s2')}),
_cv_drop AS (SELECT DISTINCT id_b AS doc_id FROM _cv_pairs),
_cv_s3 AS (
  SELECT doc_id FROM _cv_s2
  WHERE doc_id NOT IN (SELECT doc_id FROM _cv_drop)
)
SELECT '1_input' AS stage,
       CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
UNION ALL SELECT '2_gopher_keep',
       CAST((SELECT count(*) FROM _cv_s1) AS BIGINT)
UNION ALL SELECT '3_dsir_target',
       CAST((SELECT count(*) FROM _cv_s2) AS BIGINT)
UNION ALL SELECT '4_winnow_dedup',
       CAST((SELECT count(*) FROM _cv_s3) AS BIGINT)
""")
def pipeline_curation_v2(spark, sf_dir):
    """The round-9 curation funnel composed end to end — the staged
    report a production corpus run publishes: Gopher rule panel (Rae
    2021) -> DSIR target-domain selection (Xie 2023, keep docs whose
    importance weight leans target, here English) -> winnowing
    exact-substring dedup (Schleimer 2003; drop the higher id of each
    surviving near-dup pair). One row per stage with the surviving doc
    count, so the funnel's attrition is the oracle-checked artifact.

    The DSIR stage keeps the TOP HALF by weight — the paper's relative
    resampling, not an absolute cutoff (an absolute >= 0 rule proved
    scale-brittle: integer-bits weights shift with corpus-size counts,
    keeping 3% at sf0.01 and 100% at sf0.1). The median is the exact
    type-1 quantile computed over the weight HISTOGRAM (weights are
    small integers, so the cumulative window runs over a
    bounded-cardinality table — the documented finalizer class, never
    a corpus-sized global sort) and broadcasts as a scalar. At 100 TB
    this is three keep-list joins over one corpus scan path, with
    every stage's internals (broadcast models, hot-fingerprint caps,
    map-side panels) inherited from the component entries."""
    from ..operators import cache

    docs = load(spark, sf_dir, "documents")
    gop = tx.gopher_rules(docs).filter(F.col("keep")).select("doc_id")
    s1 = docs.join(gop, "doc_id", "left_semi")
    wts = tx.dsir_weights(docs, F.col("lang") == "en")
    # persist the gopher⋈DSIR frame too: the weight histogram (cum +
    # tot) and the survivor projection each re-ran its whole ancestry
    # (persist_audit: 50-node subtree x4)
    j = cache.maybe_persist(
        s1.join(wts.select("doc_id",
                           F.col("dsir_weight_bits").alias("_wb")),
                "doc_id"))
    wc = j.groupBy("_wb").agg(F.count(F.lit(1)).alias("_c"))
    cum = wc.withColumn(
        "_cum", F.sum("_c").over(
            Window.orderBy("_wb")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    tot = wc.agg(F.sum("_c").alias("_tot"))
    # integer ceil(tot/2): float (tot+1)/2 would demand one extra row
    # whenever a bucket's cumulative count lands exactly on the integer
    # rank (the oracle computes (tot+1)//2)
    med = (cum.crossJoin(F.broadcast(tot))
           .filter(F.col("_cum") >= F.expr("div(_tot + 1, 2)"))
           .agg(F.min("_wb").alias("_med")))
    # The four funnel counters are independent sinks over one shared
    # lineage: un-persisted, each branch re-runs the whole upstream
    # pipeline (gopher 4x, DSIR 3x, winnowing 2x). Two frames stay
    # live (maybe_persist never evicts siblings; the entry wrapper
    # releases them on the NEXT entry's invocation). s2 is
    # the most-reused one — it carries the gopher+DSIR work into the
    # winnowing stage, the s3 branch, and two counters. Forced (not
    # size-gated): s2 is a doc-id+text frame, orders of magnitude
    # smaller than the corpus-scale work it memoizes, and the default
    # Catalyst estimate stays under the gate at bench SF while the
    # recompute it avoids is 3x the whole entry.
    s2 = cache.maybe_persist(
        j.crossJoin(F.broadcast(med))
        .filter(F.col("_wb") >= F.col("_med"))
        .select("doc_id", "text"), force=True)
    pairs = dd.winnowing_pairs(s2.select("doc_id", "text"))
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    s3 = s2.join(drop, "doc_id", "left_anti")

    def n(df, stage):
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_docs")) \
            .select(F.lit(stage).alias("stage"), "n_docs")

    return (n(docs, "1_input")
            .unionByName(n(s1, "2_gopher_keep"))
            .unionByName(n(s2, "3_dsir_target"))
            .unionByName(n(s3, "4_winnow_dedup")))


@register("dedup_winnow_recall", f"""
WITH {_DOCS2_SQL.strip()},
_wr_pairs AS ({dd.sql_winnowing_pairs('docs2')}),
_wr_truth AS (
  SELECT doc_id AS id_a, doc_id + 10000 AS id_b
  FROM documents WHERE doc_id < 50),
_wr_found AS (
  SELECT t.id_a FROM _wr_truth t
  JOIN _wr_pairs p ON p.id_a = t.id_a AND p.id_b = t.id_b)
SELECT CAST((SELECT count(*) FROM _wr_truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM _wr_found) AS BIGINT) AS n_found,
       CAST((SELECT count(*) FROM _wr_pairs) AS BIGINT) AS n_pairs,
       CAST((SELECT count(*) FROM _wr_found) AS DOUBLE)
         / (SELECT count(*) FROM _wr_truth) AS recall
""")
def dedup_winnow_recall(spark, sf_dir):
    """Planted-pair recall for winnowing — the measured dial the
    recall family gives every blocking scheme (dedup_lsh_recall,
    sim_ivf_recall, sim_pq_recall, join_fuzzy_recall): the 50 planted
    near-dups (doc_id < 50 mutated as doc_id+10000) are the truth
    set; recall reports how many survive the k/w fingerprint
    selection, the relative match threshold, AND the max_df hot cap
    together — exactly the three dials the k=8 -> k=16 incident
    showed interact at scale (SCALING.md: the cap silently zeroed
    recall at sf0.1 until the fingerprint space out-scaled the
    corpus). n_pairs is the cost side. Measured 50/50 at both SFs
    with the current dials."""
    from ..operators import cache
    # persist the pair frame: the planted-truth semi-join and the cost
    # counter each consume it (persist_audit)
    pairs = cache.maybe_persist(dd.winnowing_pairs(_docs2(spark, sf_dir)))
    truth = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 50)
             .select(F.col("doc_id").alias("_ta"),
                     (F.col("doc_id") + 10000).alias("_tb")))
    found = truth.join(pairs, (F.col("_ta") == F.col("id_a"))
                       & (F.col("_tb") == F.col("id_b")), "left_semi")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nf = found.agg(F.count(F.lit(1)).alias("n_found"))
    np_ = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (nt.crossJoin(F.broadcast(nf)).crossJoin(F.broadcast(np_))
            .select("n_truth", "n_found", "n_pairs",
                    (F.col("n_found").cast("double")
                     / F.col("n_truth").cast("double")).alias("recall")))


@register("pipeline_dsir_weights",
          tx.sql_dsir_weights("documents", "lang = 'en'"))
def pipeline_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al., NeurIPS 2023) over the
    documents corpus with the English subset as the target domain —
    the raw-multilingual-crawl -> in-domain-target setup the paper
    selects pretraining data with. Per doc: exact-int64
    log p_target/p_raw in the quantized integer-bits domain (the
    trigram-surprisal portability trick applied to two add-one
    unigram models over a shared raw vocabulary; see
    functions/text.py:dsir_weights). Map-side tokenize/explode,
    occurrence collapse before any join, broadcast models — the same
    scale shape as text_trigram_surprisal."""
    return tx.dsir_weights(load(spark, sf_dir, "documents"),
                           F.col("lang") == "en")


# ===========================================================================
# The STREAMING engine under the oracle gate + extra TPC-H shapes
# ===========================================================================

@register("streaming_st1_ema", ORACLES["st1_ema_per_event"])
def streaming_st1_ema(spark, sf_dir):
    """ST1 per-event EMA through the REAL Structured Streaming path
    (readStream over the events parquet → applyInPandasWithState →
    availableNow → memory sink), hash-checked against the SAME prefix-
    fold oracle as the batch twin — the streaming engine's own output
    is what the driver verifies here. Single micro-batch ⇒ one ordered
    fold per key, matching the reference's Kafka-order semantics."""
    from ..streaming import stateful

    # the file stream source needs a directory: stream the sf dir with a
    # glob pinned to the events table
    raw = _events_stream(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value")
    out = stateful.apply_per_event_stream(
        raw, ["event_type"], ["ts", "event_id"],
        lambda: stateful.ema_step(0.1, id_col="event_id"),
        "event_type string, event_id long, ema double",
        "ema double", stateful.pack1, stateful.unpack1)
    return _run_stream_to_table(spark, out, "st1_stream").select(
        "event_type", "event_id", round_portable(F.col("ema")).alias("ema"))


@register("tpch_q4ish", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""")
def tpch_q4ish(spark, sf_dir):
    """TPC-H Q4 order-priority checking: LEFT SEMI join (EXISTS) —
    the probe side streams, the build side dedupes on the fly."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi")
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


@register("tpch_q18ish", """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 100.0 AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) > 30000
)
SELECT c.c_name, o.o_orderkey, o.o_totalprice, b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""")
def tpch_q18ish(spark, sf_dir):
    """TPC-H Q18 large-volume customers: aggregate + HAVING pushupstream
    of a join chain (the having filter shrinks the join input first)."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("_qc"))
        .filter(F.col("_qc") > 30000)
        .select("l_orderkey",
                (F.col("_qc").cast("double") / 100.0).alias("total_qty"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


@register("text_scrub", tx.sql_scrub())
def text_scrub(spark, sf_dir):
    """PII/URL/number scrubbing with content-hash receipt."""
    return tx.scrub(load(spark, sf_dir, "documents"))


@register("text_chunking", tx.sql_chunk())
def text_chunking(spark, sf_dir):
    """Fixed-size overlapping token chunking (64-token windows, stride
    56) — the pretraining window splitter."""
    return tx.chunk(load(spark, sf_dir, "documents"))


_Z_BITS = 5


def _z_interleave(u: str, d: str, div: str) -> str:
    """Morton/z-order bit interleave of two _Z_BITS-bit ints as a pure
    literal-arithmetic expression (bit i of u -> position 2i+1, of d
    -> 2i): (x div 2^i) % 2 scaled by a literal power of two — exact
    int64, no shift operators, so the SAME generator serves Spark
    (`div`) and DuckDB (`//`)."""
    return " + ".join(
        f"(({u} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        f" + (({d} {div} {1 << i}) % 2) * {1 << (2 * i)}"
        for i in range(_Z_BITS))


@register("pipeline_zorder_layout", f"""
WITH _zl_base AS (
  SELECT user_id % {1 << _Z_BITS} AS u,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT)
           - (SELECT CAST(min(epoch_us(ts) // 86400000000) AS BIGINT)
              FROM events) AS d
  FROM events),
_zl_k AS (
  SELECT u, d,
         ({_z_interleave('u', 'd', '//')}) // 64 AS zbucket,
         (u * {1 << _Z_BITS} + d) // 64 AS lbucket
  FROM _zl_base),
_zl_both AS (
  SELECT 'zorder' AS layout, zbucket AS bucket, u, d FROM _zl_k
  UNION ALL
  SELECT 'linear', lbucket, u, d FROM _zl_k)
SELECT layout, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(u) AS BIGINT) AS min_u, CAST(max(u) AS BIGINT) AS max_u,
       CAST(min(d) AS BIGINT) AS min_d, CAST(max(d) AS BIGINT) AS max_d,
       CAST((max(u) - min(u) + 1) * (max(d) - min(d) + 1) AS BIGINT)
         AS span_area
FROM _zl_both GROUP BY layout, bucket
""")
def pipeline_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering report — the DATA-LAYOUT axis of
    the 100 TB design space (Delta OPTIMIZE ZORDER BY / Iceberg
    sort-order compaction): file skipping works off per-file min/max
    column stats, so what matters is how tightly a layout's buckets
    bound EVERY filter column at once. This entry buckets the events
    fact two ways — interleaved-bit z-values of (user % 32, day
    index) vs the naive linear (user-major) sort key — and publishes
    each bucket's min/max span per dimension plus the span area, the
    exact quantity a stats-based pruner reads. The measured story:
    z-order buckets bound BOTH dims at ~tile width (spans 8x8-ish),
    while linear buckets bound only the leading dim (u-span 2, d-span
    the whole month) — a day-filter scans every linear bucket but
    ~1/4 of the z-order ones. The interleave is pure
    literal-power-of-two arithmetic (exact int64, one shared
    generator for both engines — no shift operators, whose literal
    restrictions and INT32 traps both engines spell differently);
    the day anchor is the usual broadcast scalar; one map pass + one
    bounded groupBy(layout, bucket). Zero floats anywhere."""
    ev = load(spark, sf_dir, "events")
    # floor spelling, not `div` — matches the oracle's // on pre-1970
    # (negative-micros) timestamps; the d = day - min_day difference is
    # then non-negative, so the downstream `div`s floor identically
    day = F.floor(F.unix_micros("ts") / F.lit(86400000000.0)).cast("long")
    mn = ev.agg(F.min(day).alias("_mind"))
    base = (ev.crossJoin(F.broadcast(mn))
            .select((F.col("user_id") % (1 << _Z_BITS)).alias("u"),
                    (day - F.col("_mind")).alias("d")))
    k = base.select(
        "u", "d",
        F.expr(f"({_z_interleave('u', 'd', 'div')}) div 64")
        .alias("zbucket"),
        F.expr(f"(u * {1 << _Z_BITS} + d) div 64").alias("lbucket"))
    both = (k.select(F.lit("zorder").alias("layout"),
                     F.col("zbucket").alias("bucket"), "u", "d")
            .unionByName(k.select(F.lit("linear").alias("layout"),
                                  F.col("lbucket").alias("bucket"),
                                  "u", "d")))
    return (both.groupBy("layout", F.col("bucket").cast("long")
                         .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("u").alias("min_u"), F.max("u").alias("max_u"),
                 F.min("d").alias("min_d"), F.max("d").alias("max_d"))
            .select("layout", "bucket", "n_rows",
                    "min_u", "max_u", "min_d", "max_d",
                    ((F.col("max_u") - F.col("min_u") + 1)
                     * (F.col("max_d") - F.col("min_d") + 1))
                    .cast("long").alias("span_area")))


@register("pipeline_epoch_shuffle", """
WITH h AS (
  SELECT doc_id, md5(concat('epoch1:', CAST(doc_id AS VARCHAR))) AS _h
  FROM documents)
SELECT doc_id, _h AS shuffle_key,
       CAST(row_number() OVER (ORDER BY _h, doc_id) - 1 AS BIGINT)
         AS shuffle_rank,
       CAST((row_number() OVER (ORDER BY _h, doc_id) - 1) % 4 AS BIGINT)
         AS shard
FROM h
""")
def pipeline_epoch_shuffle(spark, sf_dir):
    """Deterministic seeded GLOBAL permutation for training-epoch
    sharding: every document gets a dense shuffle_rank (0..n-1) in
    md5('epoch<N>:'+doc_id) order and a round-robin shard — the
    manifest a data loader consumes to stream one epoch in shuffled
    order, reproducibly, with no RNG state. Changing the epoch prefix
    re-permutes; re-running bit-reproduces.

    The SCALE point: a global row_number would be a single-partition
    window. Instead the rank is assigned two-phase with NO global
    exchange: (1) the first hex byte of the key is a 256-way range
    bucket whose lexicographic order equals its numeric order, so
    per-bucket counts (one tiny 256-row aggregate, broadcast back as
    cumulative offsets) give each bucket its global starting rank;
    (2) a row_number window PER BUCKET (256-way parallel, each
    partition ~n/256 rows) adds the intra-bucket position. Offsets
    join by broadcast; the only full-data movement is the one
    bucket-keyed shuffle any global sort would need. Oracle is the
    plain global row_number — proving the two-phase rank IS the
    global rank. Core: operators/blocks.py global_hash_rank
    (hypothesis-tested permutation identity over random id sets)."""
    from ..operators.blocks import global_hash_rank

    ranked = global_hash_rank(
        load(spark, sf_dir, "documents"), "doc_id", "epoch1:")
    return ranked.select(
        "doc_id", "shuffle_key", "shuffle_rank",
        (F.col("shuffle_rank") % 4).alias("shard"))


@register("pipeline_cdc_upsert", """
WITH base AS (
  SELECT doc_id, text, CAST(1 AS BIGINT) AS version,
         FALSE AS is_delete
  FROM documents),
upd AS (
  SELECT doc_id, text || ' [v2]' AS text, CAST(2 AS BIGINT) AS version,
         FALSE AS is_delete
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, CAST(NULL AS VARCHAR), CAST(2 AS BIGINT), TRUE
  FROM documents WHERE doc_id % 10 = 5),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
ranked AS (
  SELECT doc_id, text, version, is_delete,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY version DESC) AS _rn
  FROM allr)
SELECT doc_id, version, text
FROM ranked WHERE _rn = 1 AND NOT is_delete
""")
def pipeline_cdc_upsert(spark, sf_dir):
    """CDC upsert/tombstone merge — the MERGE INTO pattern a corpus
    refresh runs when a new crawl lands: a change batch carrying
    updated documents (every 10th doc gets a v2 body) and deletion
    tombstones (every doc_id ≡ 5 mod 10) folds into the base so the
    LATEST version per key wins and tombstoned keys vanish. Expressed
    as union → per-key latest (row_number over version desc, the
    deterministic spelling both engines share) → tombstone filter:
    ONE shuffle on the document key, per-key state is a single row —
    the same plan a Delta/Iceberg MERGE compiles to when the change
    batch can't broadcast. The change batch is DERIVED from the base
    here (no second table in the harness); a real deployment unions
    an external changelog with identical semantics."""
    base = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.lit(1).cast("long").alias("version"),
        F.lit(False).alias("is_delete"))
    src = load(spark, sf_dir, "documents")
    upd = (
        src.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id",
                F.concat(F.col("text"), F.lit(" [v2]")).alias("text"),
                F.lit(2).cast("long").alias("version"),
                F.lit(False).alias("is_delete"))
        .unionByName(
            src.filter(F.col("doc_id") % 10 == 5)
            .select("doc_id", F.lit(None).cast("string").alias("text"),
                    F.lit(2).cast("long").alias("version"),
                    F.lit(True).alias("is_delete")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    return (
        base.unionByName(upd)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col("is_delete")))
        .select("doc_id", "version", "text")
    )


@register("streaming_dedup_watermarked", """
SELECT event_id FROM events
""")
def streaming_dedup_watermarked(spark, sf_dir):
    """Dedup with BOUNDED state — the 100 TB form streaming_dedup_
    exact's docstring promises: dropDuplicatesWithinWatermark evicts
    a key's dedup state once the watermark passes its event time +
    delay, so state holds only the in-flight horizon instead of
    every key ever seen. The stream plants a duplicate of every 97th
    event 5 ms later (inside the 1 s horizon), and exactly the
    original event_id set survives — the planted copies are dropped
    by state that CAN be evicted, where plain dropDuplicates would
    pin all 10k keys forever. Event-time watermark on the real ts
    column; availableNow replay."""
    raw = _events_stream(spark, sf_dir).select("event_id", "ts")
    planted = raw.filter(F.col("event_id") % 97 == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 5 MILLISECONDS")).alias("ts"))
    out = (
        raw.unionByName(planted)
        .withWatermark("ts", "1 second")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return _run_stream_to_table(spark, out, "dedup_wm")


@register("streaming_join_static_dim", """
WITH w AS (
  SELECT event_type,
         CAST(10 + length(event_type) AS BIGINT) AS type_weight
  FROM (SELECT DISTINCT event_type FROM events))
SELECT e.event_type, w.type_weight,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT)
                * w.type_weight) AS BIGINT) AS weighted_cents
FROM events e JOIN w ON w.event_type = e.event_type
GROUP BY e.event_type, w.type_weight
""")
def streaming_join_static_dim(spark, sf_dir):
    """STREAM-STATIC join — the enrichment path every ingest pipeline
    runs (events joining a slowly-changing dimension) and a distinct
    streaming engine mechanism from the stream-stream interval join:
    the static side is a plain batch DataFrame re-resolved per
    micro-batch, needs NO watermark and NO join state (nothing waits
    for the other side), and broadcasts into each batch. The
    dimension here is a deterministic per-type weight table derived
    from the batch read; the weighted per-type rollup is checked
    against the batch oracle: enriching on the wire must equal
    enriching at rest."""
    dim = (load(spark, sf_dir, "events").select("event_type").distinct()
           .select("event_type",
                   (F.lit(10) + F.length("event_type")).cast("long")
                   .alias("type_weight")))
    raw = _events_stream(spark, sf_dir)
    joined = raw.join(F.broadcast(dim), "event_type")
    out = (
        joined.groupBy("event_type", "type_weight")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(_cents(F.col("value")) * F.col("type_weight"))
             .alias("weighted_cents"))
    )
    return _run_stream_to_table(spark, out, "static_dim",
                                mode="complete")


@register("streaming_cdc_upsert", ORACLES["pipeline_cdc_upsert"])
def streaming_cdc_upsert(spark, sf_dir):
    """CDC upsert ON INGEST through the LIVE streaming runtime: the
    change stream (base rows, v2 updates, tombstones — derived as
    projections of one documents stream, self-union being the
    streaming spelling of a changelog merge) folds into per-key
    latest-version state via a complete-mode max_by aggregation — one
    (version, text, is_delete) struct per key of state, arrival-order
    independent because max_by keys on the version. Tombstone
    filtering happens batch-side on the sunk state table, checked
    against the SAME oracle as the batch twin pipeline_cdc_upsert:
    merging a changelog as it arrives must lose nothing vs merging
    it at rest."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = _table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    base = raw.select(
        "doc_id", "text", F.lit(1).cast("long").alias("version"),
        F.lit(False).alias("is_delete"))
    upd = (
        raw.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id",
                F.concat(F.col("text"), F.lit(" [v2]")).alias("text"),
                F.lit(2).cast("long").alias("version"),
                F.lit(False).alias("is_delete"))
        .unionByName(
            raw.filter(F.col("doc_id") % 10 == 5)
            .select("doc_id", F.lit(None).cast("string").alias("text"),
                    F.lit(2).cast("long").alias("version"),
                    F.lit(True).alias("is_delete")))
    )
    latest_stream = (
        base.unionByName(upd)
        .groupBy("doc_id")
        .agg(F.max_by(
            F.struct("version", "text", "is_delete"), "version")
            .alias("_w"))
    )
    state = _run_stream_to_table(spark, latest_stream, "cdc_state",
                                 mode="complete")
    return (
        state.filter(~F.col("_w.is_delete"))
        .select("doc_id", F.col("_w.version").alias("version"),
                F.col("_w.text").alias("text"))
    )


@register("pipeline_dataset_diff", """
WITH newv AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text || ' [v2]' ELSE text END
           AS text
  FROM documents WHERE doc_id % 10 <> 5
  UNION ALL
  SELECT doc_id + 30000, text FROM documents WHERE doc_id % 10 = 1),
d AS (
  SELECT CASE WHEN b.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN b.text = n.text THEN 'unchanged'
              ELSE 'changed' END AS change_class
  FROM documents b FULL OUTER JOIN newv n ON n.doc_id = b.doc_id)
SELECT change_class, CAST(count(*) AS BIGINT) AS n_docs
FROM d GROUP BY change_class
""")
def pipeline_dataset_diff(spark, sf_dir):
    """Dataset-version diff — the release audit a training pipeline
    publishes between corpus versions: a FULL OUTER reconciliation on
    the document key classifies every row as added / removed /
    changed / unchanged and rolls the classes up. The v2 corpus here
    is derived (every 10th doc rewritten, doc_id≡5 dropped, doc_id≡1
    re-keyed as additions) so all four classes are non-empty. Scale
    shape: full outer is the one join type that cannot drop either
    side — both sides shuffle on the key (SMJ when neither
    broadcasts, the correct 100 TB plan); classification is a
    map-side CASE on the joined row, the rollup 4 keys. Pair with
    content hashes instead of raw text equality when bodies are
    large (text_fingerprint is the drop-in)."""
    base = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_bid"), F.col("text").alias("_btext"))
    src = load(spark, sf_dir, "documents")
    newv = (
        src.filter(F.col("doc_id") % 10 != 5)
        .select("doc_id",
                F.when(F.col("doc_id") % 10 == 0,
                       F.concat(F.col("text"), F.lit(" [v2]")))
                .otherwise(F.col("text")).alias("text"))
        .unionByName(
            src.filter(F.col("doc_id") % 10 == 1)
            .select((F.col("doc_id") + 30000).alias("doc_id"), "text"))
    )
    d = base.join(newv, F.col("_bid") == F.col("doc_id"), "full_outer")
    cls = (F.when(F.col("_bid").isNull(), "added")
           .when(F.col("doc_id").isNull(), "removed")
           .when(F.col("_btext") == F.col("text"), "unchanged")
           .otherwise("changed"))
    return (d.select(cls.alias("change_class"))
            .groupBy("change_class")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register("pipeline_train_val_split", tx.sql_train_val_split())
def pipeline_train_val_split(spark, sf_dir):
    """Deterministic content-hash train/val split (re-shard stable)."""
    return tx.train_val_split(load(spark, sf_dir, "documents"))


# ===========================================================================
# ST6 per-event ledger under the oracle — every TxnResult verified
# ===========================================================================

def _st6_subst(expr: str) -> str:
    """Rewrite the ST6 fold-step expressions from (acc, x) lambda vars to
    prefix-indexed forms: acc -> state before event i, x -> updater i."""
    return expr.replace("acc[", "_prev[").replace("x[", "_u[")


_ST6_STATUS = f"""
CASE WHEN {_st6_subst(_ST6_BC)} < 0.0 THEN 'INSUFFICIENT_COINS'
     WHEN {_st6_subst(_ST6_BS)} < 0.0 THEN 'INSUFFICIENT_SHARES'
     ELSE 'ACCEPTED' END
"""


@register("st6_per_event_ledger", f"""
WITH {EV_SQL},
{_ST6_UPD_SQL},
seqs AS (
  SELECT upd.trader,
         list(u ORDER BY upd.ts, upd.event_id) AS us,
         list(concat('txn', upd.event_id)
              ORDER BY upd.ts, upd.event_id) AS txns,
         list(CASE e.otype WHEN 'INVEST' THEN 'INVEST'
                           WHEN 'FEED' THEN 'FEED'
                           ELSE 'MARKET' END
              ORDER BY upd.ts, upd.event_id) AS utypes
  FROM upd JOIN ev e ON e.event_id = upd.event_id
  GROUP BY upd.trader),
pref AS (
  SELECT trader, us, txns, utypes,
         list_transform(generate_series(0, len(us)),
           k -> list_reduce(
                  list_prepend(CAST([10.0, 5.0, 0.0, 0.0, 0.0] AS DOUBLE[]),
                               list_slice(us, 1, k)),
                  (acc, x) -> {_ST6_STEP})) AS states
  FROM seqs),
x AS (
  SELECT trader, g.i AS i,
         states[CAST(g.i AS INTEGER)] AS _prev,
         states[CAST(g.i AS INTEGER) + 1] AS _st,
         us[CAST(g.i AS INTEGER)] AS _u,
         txns[CAST(g.i AS INTEGER)] AS txn_id,
         utypes[CAST(g.i AS INTEGER)] AS utype
  FROM pref, (SELECT unnest(generate_series(1, 100000)) AS i) g
  WHERE g.i <= len(us))
SELECT trader, txn_id, utype,
       {_ST6_STATUS} AS status,
       ROUND6(_st[1]) AS coins,
       CAST(_st[2] AS INTEGER) AS shares,
       CAST(_st[3] AS INTEGER) AS bailouts,
       CAST(_st[4] AS INTEGER) AS fed_monkeys,
       CAST(_st[5] AS INTEGER) AS in_flight
FROM x
""")
def st6_per_event_ledger(spark, sf_dir):
    """ST6 with PER-EVENT TxnResult emission under the oracle — the
    reference's core behavior (MarketDataflow.java:284-310 emits a
    TxnResult per update, status + kept state). Spark runs the Arrow
    per-event engine with the shared ledger step; the oracle replays
    every prefix of the fold and recomputes each event's
    bailout/validation decision. The strongest correctness evidence in
    the registry: every intermediate settlement decision is
    hash-checked, not just final states."""
    from ..streaming import stateful

    upd = _updater_stream(spark, sf_dir).select(
        "trader", "ts", "event_id",
        F.concat(F.lit("txn"), F.col("event_id")).alias("txnId"),
        "type", "coinsDiff", "sharesDiff", "addBailout", "fedMonkeys",
        "investDiff")
    out = stateful.apply_per_event_batch(
        upd, ["trader"], ["ts", "event_id"], stateful.trader_ledger_step,
        "trader string, txnId string, type string, status string, "
        "coins double, shares int, bailouts int, fedMonkeys int, "
        "inFlightInvestments int")
    return out.select(
        "trader",
        F.col("txnId").alias("txn_id"),
        F.col("type").alias("utype"),
        "status",
        round_portable(F.col("coins")).alias("coins"),
        F.col("shares").cast("int").alias("shares"),
        F.col("bailouts").cast("int").alias("bailouts"),
        F.col("fedMonkeys").cast("int").alias("fed_monkeys"),
        F.col("inFlightInvestments").cast("int").alias("in_flight"),
    )


# ===========================================================================
# As-of join (operators/asof.py) under the oracle via DuckDB's native ASOF
# ===========================================================================

@register("asof_join_price", f"""
WITH {EV_SQL},
l AS (SELECT trader, time_ms, event_id, otype, shares
      FROM ev WHERE otype IN ('BUY', 'SELL')),
r AS (SELECT trader, time_ms, max_by(value, event_id) AS price
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY trader, time_ms)
SELECT l.trader, l.time_ms, l.event_id, l.otype, l.shares,
       r.price AS asof_price
FROM l ASOF LEFT JOIN r ON l.trader = r.trader AND l.time_ms >= r.time_ms
""")
def asof_join_price(spark, sf_dir):
    """As-of join (operators/asof.py): each BUY/SELL order is enriched
    with the most recent price at-or-before its timestamp, per trader —
    the batch analog of ST5's settle-at-latest-price
    (MarketDataflow.java:236-238), checked against DuckDB's native ASOF
    LEFT JOIN. The union+last_value plan costs one shuffle + one sort
    (same shape as a sort-merge join) and never builds a per-key
    cartesian product, so it scales to corpus-sized streams."""
    ev = events_enriched(spark, sf_dir)
    left = ev.filter(F.col("otype").isin("BUY", "SELL")).select(
        "trader", "time_ms", "event_id", "otype", "shares")
    right = (
        ev.filter((F.col("event_type") == "purchase")
                  & F.col("value").isNotNull())
        .groupBy("trader", "time_ms")
        .agg(F.max_by("value", "event_id").alias("price"))
    )
    return asof.asof_join(
        left, right, on=["trader"], left_time="time_ms",
        right_time="time_ms", value_cols=["price"], fallback="null",
    )


@register("asof_join_next_price", f"""
WITH {EV_SQL},
l AS (SELECT trader, time_ms, event_id, otype, shares
      FROM ev WHERE otype IN ('BUY', 'SELL')),
r AS (SELECT trader, time_ms, max_by(value, event_id) AS price
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY trader, time_ms)
SELECT l.trader, l.time_ms, l.event_id, l.otype, l.shares,
       r.price AS next_price
FROM l ASOF LEFT JOIN r ON l.trader = r.trader AND l.time_ms <= r.time_ms
""")
def asof_join_next_price(spark, sf_dir):
    """FORWARD as-of join: each BUY/SELL order is enriched with the
    EARLIEST price at-or-after its timestamp, per trader —
    settle-at-next-tick semantics (the execution model of an order
    that waits for the next quote, dual to asof_join_price's
    settle-at-latest). No new operator code: forward as-of IS
    backward as-of under time negation, so this reuses
    operators/asof.py verbatim on a negated time key — the
    union+last_value plan, one shuffle + one sort, no per-key
    product. Checked against DuckDB's native ASOF LEFT JOIN with the
    <= inequality (its forward form)."""
    ev = events_enriched(spark, sf_dir)
    left = ev.filter(F.col("otype").isin("BUY", "SELL")).select(
        "trader", "time_ms", "event_id", "otype", "shares",
        (-F.col("time_ms")).alias("_negt"))
    right = (
        ev.filter((F.col("event_type") == "purchase")
                  & F.col("value").isNotNull())
        .groupBy("trader", "time_ms")
        .agg(F.max_by("value", "event_id").alias("price"))
        .select("trader", (-F.col("time_ms")).alias("_negt"), "price")
    )
    return asof.asof_join(
        left, right, on=["trader"], left_time="_negt",
        right_time="_negt", value_cols=["price"], fallback="null",
    ).select("trader", "time_ms", "event_id", "otype", "shares",
             F.col("asof_price").alias("next_price"))


@register("asof_join_tolerance", f"""
WITH {EV_SQL},
l AS (SELECT trader, time_ms, event_id, otype, shares
      FROM ev WHERE otype IN ('BUY', 'SELL')),
r AS (SELECT trader, time_ms, max_by(value, event_id) AS price
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY trader, time_ms),
b AS (SELECT l.trader, l.time_ms, l.event_id, l.otype, l.shares,
             r.price AS bp, r.time_ms AS brt
      FROM l ASOF LEFT JOIN r
        ON l.trader = r.trader AND l.time_ms >= r.time_ms)
SELECT trader, time_ms, event_id, otype, shares,
       CASE WHEN brt IS NOT NULL AND time_ms - brt <= 60000
            THEN bp END AS price_1m,
       CASE WHEN brt IS NOT NULL AND time_ms - brt <= 60000
            THEN CAST(time_ms - brt AS BIGINT) END AS lag_ms
FROM b
""")
def asof_join_tolerance(spark, sf_dir):
    """As-of join with a TOLERANCE bound (pandas merge_asof's
    ``tolerance=`` parameter, the third dial after direction): the
    latest price at-or-before each order counts only if it is at most
    60 s stale — orders whose best backward match is older get NULL,
    the semantics of \"use the quote only if it's fresh\" in any
    market-data or sensor-fusion enrichment. No new operator code:
    the verified backward fill (operators/asof.py) also carries the
    MATCHED RIGHT TIMESTAMP as a value column, and tolerance is one
    exact-integer millisecond comparison on top — match staleness
    becomes data (lag_ms), not silently-accepted staleness. The
    filter must run AFTER the fill, not on the right side before it:
    pre-filtering old quotes would promote the next-older quote into
    range. Same one-shuffle-one-sort scale shape as asof_join_price;
    DuckDB oracle replays tolerance over its native ASOF LEFT JOIN."""
    ev = events_enriched(spark, sf_dir)
    left = ev.filter(F.col("otype").isin("BUY", "SELL")).select(
        "trader", "time_ms", "event_id", "otype", "shares")
    right = (
        ev.filter((F.col("event_type") == "purchase")
                  & F.col("value").isNotNull())
        .groupBy("trader", "time_ms")
        .agg(F.max_by("value", "event_id").alias("price"))
        .select("trader", "time_ms", F.col("time_ms").alias("rt"),
                "price")
    )
    filled = asof.asof_join(
        left, right, on=["trader"], left_time="time_ms",
        right_time="time_ms", value_cols=["price", "rt"],
        fallback="null",
    )
    ok = (F.col("asof_rt").isNotNull()
          & ((F.col("time_ms") - F.col("asof_rt")) <= 60000))
    return filled.select(
        "trader", "time_ms", "event_id", "otype", "shares",
        F.when(ok, F.col("asof_price")).alias("price_1m"),
        F.when(ok, (F.col("time_ms") - F.col("asof_rt")).cast("long"))
        .alias("lag_ms"))


@register("events_gini_concentration", """
WITH u AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2),
rk AS (SELECT event_type, rev,
              CAST(row_number() OVER (PARTITION BY event_type
                                      ORDER BY rev, user_id) AS BIGINT)
                AS rnk
       FROM u),
a AS (SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(rev) AS BIGINT) AS total_cents,
             CAST(sum(CAST(rnk AS HUGEINT) * rev) AS HUGEINT) AS srx
      FROM rk GROUP BY 1)
SELECT event_type, n_users, total_cents,
       CASE WHEN n_users * CAST(total_cents AS HUGEINT) = 0 THEN NULL
            ELSE CAST(2 * srx - (n_users + 1)
                      * CAST(total_cents AS HUGEINT) AS DOUBLE)
                 / CAST(n_users * CAST(total_cents AS HUGEINT) AS DOUBLE)
       END AS gini
FROM a
""")
def events_gini_concentration(spark, sf_dir):
    """Gini coefficient of per-user revenue within each event type —
    the concentration/inequality metric (how much of a segment's
    revenue sits in its whale users) every monetization dashboard
    reports, and the third distribution diagnostic next to the
    quantile histogram (shape) and the log2 length histogram (spread).
    The Gini needs each user's RANK by revenue within its type —
    the classic global-sort trap, since a type's user population is
    unbounded. Here the rank IS a prefix count, so it rides the
    two-phase prefix sum (windows.running_sum_scalable over value 1,
    ordered by (rev, user_id) — a deterministic total order):
    equal-width revenue blocks fill in parallel, the only sequential
    step is the #partitions-row offset table. Everything else is
    exact integers: per-user cents, HUGEINT/decimal(38) rank x
    revenue products (rank·rev sums overflow int64 at ~1e9 users),
    the standard G = (2·Σ r·x − (n+1)·Σx) / (n·Σx) as an exact
    integer numerator and denominator with ONE final double division
    (identical IEEE op both engines). Zero-total types are NULL
    (guarded, not an ANSI crash); users with only NULL-value events
    carry no revenue information and are excluded on both engines —
    the fold/stat input contract."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u = (ev.groupBy("event_type", "user_id")
         .agg(F.sum(_cents(F.col("value"))).alias("rev")))
    ranked = windows.running_sum_scalable(
        u.withColumn("_one", F.lit(1).cast("long")),
        ["event_type"], ["rev", "user_id"], "_one", out="rnk")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    a = (ranked.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
              F.sum("rev").alias("total_cents"),
              F.sum(dec(F.col("rnk")) * dec(F.col("rev"))).alias("srx")))
    num = (F.lit(2).cast("decimal(38,0)") * F.col("srx")
           - (dec(F.col("n_users")) + F.lit(1))
           * dec(F.col("total_cents")))
    den = dec(F.col("n_users")) * dec(F.col("total_cents"))
    return a.select(
        "event_type", "n_users",
        F.col("total_cents").cast("long").alias("total_cents"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("gini"))


@register("asof_join_nearest_price", f"""
WITH {EV_SQL},
l AS (SELECT trader, time_ms, event_id, otype, shares
      FROM ev WHERE otype IN ('BUY', 'SELL')),
r AS (SELECT trader, time_ms, max_by(value, event_id) AS price
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY trader, time_ms),
b AS (SELECT l.trader, l.time_ms, l.event_id, l.otype, l.shares,
             r.price AS bp, r.time_ms AS brt
      FROM l ASOF LEFT JOIN r
        ON l.trader = r.trader AND l.time_ms >= r.time_ms),
f AS (SELECT l.event_id AS fe, r.price AS fp, r.time_ms AS frt
      FROM l ASOF LEFT JOIN r
        ON l.trader = r.trader AND l.time_ms <= r.time_ms)
SELECT b.trader, b.time_ms, b.event_id, b.otype, b.shares,
       CASE WHEN brt IS NULL THEN fp
            WHEN frt IS NULL THEN bp
            WHEN (b.time_ms - brt) <= (frt - b.time_ms) THEN bp
            ELSE fp END AS nearest_price,
       CASE WHEN brt IS NULL AND frt IS NULL THEN NULL
            WHEN brt IS NULL THEN 'fwd'
            WHEN frt IS NULL THEN 'back'
            WHEN (b.time_ms - brt) <= (frt - b.time_ms) THEN 'back'
            ELSE 'fwd' END AS direction
FROM b JOIN f ON f.fe = b.event_id
""")
def asof_join_nearest_price(spark, sf_dir):
    """NEAREST as-of join — the third direction of the family
    (pandas merge_asof's direction='nearest'): each BUY/SELL order is
    enriched with the price whose timestamp is CLOSEST in either
    direction, ties resolved to the earlier (backward) match, the
    standard convention. Composed from the two verified directions —
    the backward fill and the time-negated forward fill
    (operators/asof.py, one shuffle + one sort each) joined on the
    unique event id — then one exact-integer millisecond-delta
    comparison picks the winner; `direction` records which side won
    so the dial is auditable. NULL-side handling: an order before the
    first price takes the forward match, after the last takes the
    backward one, and a trader with no prices at all keeps NULL. The
    oracle replays the same composition over DuckDB's native ASOF
    LEFT JOIN in both inequalities. At scale this is two
    union-window passes over the same (trader, time) partitioning
    plus one equi-join on a unique key — no per-key product
    anywhere."""
    ev = events_enriched(spark, sf_dir)
    left = ev.filter(F.col("otype").isin("BUY", "SELL")).select(
        "trader", "time_ms", "event_id", "otype", "shares")
    right = (
        ev.filter((F.col("event_type") == "purchase")
                  & F.col("value").isNotNull())
        .groupBy("trader", "time_ms")
        .agg(F.max_by("value", "event_id").alias("price"))
    )
    rb = right.select("trader", "time_ms",
                      F.col("price").alias("bp"),
                      F.col("time_ms").alias("brt"))
    back = asof.asof_join(
        left, rb, on=["trader"], left_time="time_ms",
        right_time="time_ms", value_cols=["bp", "brt"],
        fallback="null")
    lf = left.select("trader", "event_id",
                     (-F.col("time_ms")).alias("_negt"))
    rf = right.select("trader", (-F.col("time_ms")).alias("_negt"),
                      F.col("price").alias("fp"),
                      F.col("time_ms").alias("frt"))
    fwd = asof.asof_join(
        lf, rf, on=["trader"], left_time="_negt", right_time="_negt",
        value_cols=["fp", "frt"], fallback="null"
    ).select(F.col("event_id").alias("_fe"), "asof_fp", "asof_frt")
    j = back.join(fwd, F.col("event_id") == F.col("_fe"))
    db = F.col("time_ms") - F.col("asof_brt")
    df_ = F.col("asof_frt") - F.col("time_ms")
    take_back = (F.col("asof_brt").isNotNull()
                 & (F.col("asof_frt").isNull() | (db <= df_)))
    return j.select(
        "trader", "time_ms", "event_id", "otype", "shares",
        F.when(F.col("asof_brt").isNull(), F.col("asof_fp"))
        .when(take_back, F.col("asof_bp"))
        .otherwise(F.col("asof_fp")).alias("nearest_price"),
        F.when(F.col("asof_brt").isNull() & F.col("asof_frt").isNull(),
               F.lit(None).cast("string"))
        .when(F.col("asof_brt").isNull(), F.lit("fwd"))
        .when(take_back, F.lit("back"))
        .otherwise(F.lit("fwd")).alias("direction"))


@register("streaming_st6_ledger", ORACLES["st6_per_event_ledger"])
def streaming_st6_ledger(spark, sf_dir):
    """The ST6 settlement ledger through the REAL Structured Streaming
    path (readStream → enrichment → updater projection →
    applyInPandasWithState → availableNow → memory sink), hash-checked
    against the SAME prefix-replay oracle as the batch twin
    (st6_per_event_ledger). Together with streaming_st1_ema this puts
    both per-event engines — EMA and the validated trader ledger
    (MarketDataflow.java:284-310) — under the driver's gate via the
    streaming runtime itself, not a batch stand-in."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    upd = _updaters_from(enrich_events(raw)).select(
        "trader", "ts", "event_id",
        F.concat(F.lit("txn"), F.col("event_id")).alias("txnId"),
        "type", "coinsDiff", "sharesDiff", "addBailout", "fedMonkeys",
        "investDiff")
    out = stateful.apply_per_event_stream(
        upd, ["trader"], ["ts", "event_id"], stateful.trader_ledger_step,
        "trader string, txnId string, type string, status string, "
        "coins double, shares int, bailouts int, fedMonkeys int, "
        "inFlightInvestments int",
        "coins double, shares int, bailouts int, fedMonkeys int, "
        "inFlightInvestments int",
        lambda s: (float(s[0]), int(s[1]), int(s[2]), int(s[3]), int(s[4])),
        lambda r: tuple(r))
    return _run_stream_to_table(spark, out, "st6_stream").select(
        "trader",
        F.col("txnId").alias("txn_id"),
        F.col("type").alias("utype"),
        "status",
        round_portable(F.col("coins")).alias("coins"),
        F.col("shares").cast("int").alias("shares"),
        F.col("bailouts").cast("int").alias("bailouts"),
        F.col("fedMonkeys").cast("int").alias("fed_monkeys"),
        F.col("inFlightInvestments").cast("int").alias("in_flight"),
    )


@register("streaming_w2_window", ORACLES["w2_tumbling_sum"])
def streaming_w2_window(spark, sf_dir):
    """W2 tumbling event-time windows through the REAL streaming
    runtime: readStream → withWatermark (T1's 10 ms out-of-orderness
    bound, TimestampExtractor.java:8-18) → window aggregate → memory
    sink (complete mode), hash-checked against the SAME oracle as the
    batch twin w2_tumbling_sum — event-time windowing itself is now
    under the driver's gate, not just its batch stand-in."""
    raw = _events_stream(spark, sf_dir)
    agg = (
        enrich_events(raw)
        .withWatermark("ts", "10 milliseconds")
        .groupBy(F.window("ts", "1 hour").alias("_w"), "trader")
        .agg(
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
            .alias("sum_value"),
            F.min_by("event_id", F.struct("ts", "event_id"))
            .alias("first_event"),
        )
        .select(
            F.unix_millis(F.col("_w.start")).alias("window_start_ms"),
            "trader", "sum_value", "first_event",
        )
    )
    return _run_stream_to_table(spark, agg, "w2_stream", mode="complete")


@register("st8_return_amounts", expand_round6(f"""
WITH {EV_SQL},
inv AS (
  SELECT trader, ts, event_id, invested,
         CAST(sum({SQL_CENTS.format(x='abs(invested)')})
              OVER (PARTITION BY trader ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 AS total
  FROM ev WHERE otype = 'INVEST')
SELECT trader, event_id,
       CAST(floor(total) AS BIGINT) AS delay_ms,
       ROUND6(exp((0.035 + exp(-1.0 - total / 1000.0))
                  + 0.01 * (2.0 * (CAST({sql_md5_long(
                      "concat('ret', event_id)")} % 1000000 AS DOUBLE)
                      / 1000000.0) - 1.0)) * invested) AS return_coins
FROM inv
"""))
def st8_return_amounts(spark, sf_dir):
    """ST8's deterministic core under the oracle: per INVEST event, the
    delayed-return amount LogNormal(0.035 + e^(-1-total/1000), 0.01)
    .sample() * investedCoins and the timer delay = total ms
    (MarketDataflow.java:348-392), with the unit normal Z replaced by
    an injected hash-derived deterministic value (DIVERGENCES.md #3 —
    production wires real entropy; tests and the oracle replay this
    exact value). The timer MECHANICS (ProcessingTimeTimeout firing)
    are exercised in tests/test_streaming.py::test_st8_delayed_return_
    timer; this entry pins the arithmetic both engines must agree on."""
    ev = events_enriched(spark, sf_dir).filter(F.col("otype") == "INVEST")
    w = (Window.partitionBy("trader").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    inv = ev.select(
        "trader", "event_id", "invested",
        (F.sum(_cents(F.abs(F.col("invested")))).over(w).cast("double")
         / 100.0).alias("total"))
    mu = F.lit(0.035) + F.exp(F.lit(-1.0) - F.col("total") / 1000.0)
    z = (2.0 * (md5_long(F.concat(F.lit("ret"), F.col("event_id")))
                % 1000000).cast("double") / 1000000.0 - 1.0)
    return inv.select(
        "trader", "event_id",
        F.floor("total").cast("long").alias("delay_ms"),
        round_portable(F.exp(mu + 0.01 * z) * F.col("invested"))
        .alias("return_coins"),
    )


@register("text_repetition",
          tx.sql_repetition_stats("documents"))
def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    §A1.1): top-2-gram fraction + duplicate-3-gram fraction — the
    standard repetition filters a pretraining curation pipeline runs
    alongside quality_stats."""
    return tx.repetition_stats(load(spark, sf_dir, "documents"))


@register("sim_ivf_recall", f"""
WITH bf AS ({sim.sql_cosine_topk('embeddings', _QUERY_IDS, _EMB_DIM, k=5)}),
ivf AS ({sim.sql_ivf_ann_topk('embeddings', _QUERY_IDS, _EMB_DIM, k=5)})
SELECT bf.query_id,
       CAST(count(ivf.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""")
def sim_ivf_recall(spark, sf_dir):
    """ANN quality measurement: recall@5 of the IVF index against the
    exact brute-force top-5, per query — the metric a pipeline tunes
    nprobe/n_centroids against ('measure, don't guess'). Both engines
    compute both rankings and intersect them."""
    emb = load(spark, sf_dir, "embeddings")
    bf = sim.cosine_topk(emb, _QUERY_IDS, k=5).select(
        "query_id", "neighbor_id")
    ivf = sim.ivf_ann_topk(emb, _QUERY_IDS, _EMB_DIM, k=5).select(
        F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n"))
    return (
        bf.join(F.broadcast(ivf), (F.col("_q") == F.col("query_id"))
                & (F.col("_n") == F.col("neighbor_id")), "left")
        .groupBy("query_id")
        .agg((F.count("_n").cast("double") / 5.0).alias("recall_at_5"))
    )


def _batch_q_top5(ids, qids, dm):
    """Per-Arrow-batch EXACT top-5 per query column under the
    (distance, neighbor_id) total order — the same order _grouped_top5
    applies downstream, so pre-pruning a batch to its own top-5 drops
    only rows that cannot reach the global top-5. The cut keeps every
    row tied at or under the 5th-smallest distance, then lexsorts the
    survivors by (dm, id) and slices 5, so boundary ties resolve by id
    exactly as the array_sort spelling does. Self-pairs are dropped
    before selection. Shared by the recall-dial kernels."""
    import numpy as np

    out_q, out_n, out_d = [], [], []
    for j in range(len(qids)):
        dmj = dm[:, j]
        rows = np.flatnonzero(ids != qids[j])  # drop self-pair
        if rows.size > 5:
            d5 = np.partition(dmj[rows], 4)[4]
            rows = rows[dmj[rows] <= d5]
        order = np.lexsort((ids[rows], dmj[rows]))[:5]
        sel = rows[order]
        out_q.append(np.full(sel.size, qids[j], dtype=np.int64))
        out_n.append(ids[sel])
        out_d.append(dmj[sel])
    return (np.concatenate(out_q), np.concatenate(out_n),
            np.concatenate(out_d))


def _exact_l2_scored(emb, query_ids):
    """Exact ground-truth micro-L2 (query × corpus) scored pairs shared
    by the recall dials, as a numpy mapInArrow kernel (guide §4.2: the
    interpreted HOF dot folds were the dials' dominant cost even after
    hoisting the per-side self-dots to once per row).

    Bit-parity argument: the HOF spelling folds LEFT-TO-RIGHT from a
    0.0 init over float32 elements widened to float64; the kernel
    accumulates across DIMS sequentially with the identical
    ``acc + q[d]*c[d]`` step (vectorized across PAIRS, which changes
    no per-pair order), then applies the same
    ``floor(((qq - 2.0*ab) + cc) * 1e6 + 0.5)`` expression tree in
    float64 — every IEEE operation matches one-for-one, so the
    micro-quantized distances (and every recall oracle hash) are
    unchanged. The query side is a BOUNDED driver collect (|Q| rows,
    the broadcast-a-model pattern — same class as the k-means init
    and bloom-bitmap literals); the corpus streams through the kernel
    once, projected to the two needed columns, and only the small
    (query, neighbor, distance) rows ever shuffle.

    r17 second pass (guide §2.3: aggregate before you shuffle): every
    consumer takes the per-query TOP-5 of this frame (_grouped_top5,
    ordered by (distance, neighbor_id)), so the kernel now emits only
    each Arrow batch's per-query top-5 under the IDENTICAL
    (dm, neighbor_id) total order instead of all nb*|Q| pairs — a
    global top-5 member is by definition in its own batch's top-5, so
    the downstream two-stage selection returns the same rows
    bit-for-bit while ~10^6 scored pairs per batch collapse to <= 500
    crossing the Python boundary and the exchange. Tie exactness: the
    cut keeps EVERY row with dm <= the 5th-smallest dm (then lexsorts
    (dm, id) and slices 5), so equal-distance boundary ties resolve
    by neighbor_id exactly as the window/array_sort spelling does."""
    import numpy as np

    # bounded collect: |query_ids| rows (100), never corpus-sized
    qrows = (emb.filter(F.col("vec_id").isin(query_ids))
             .select("vec_id", "embedding").collect())
    qids_l = [int(r[0]) for r in qrows]
    qm_l = [[float(x) for x in r[1]] for r in qrows]

    def kernel(it):
        import numpy as np
        import pyarrow as pa

        qids = np.asarray(qids_l, dtype=np.int64)
        qm = np.asarray(qm_l, dtype=np.float64)
        nq, dim = qm.shape
        qq = np.zeros(nq)
        for d in range(dim):
            qq += qm[:, d] * qm[:, d]
        for batch in it:
            tbl = pa.Table.from_batches([batch]).combine_chunks()
            ids = tbl.column("vec_id").to_numpy().astype(np.int64)
            col = tbl.column("embedding").chunk(0)
            flat = col.flatten().to_numpy().astype(np.float64)
            embs = flat.reshape(len(ids), dim)
            nb = embs.shape[0]
            ab = np.zeros((nb, nq))
            cc = np.zeros(nb)
            for d in range(dim):
                cd = embs[:, d]
                qd = qm[:, d]
                ab += cd[:, None] * qd[None, :]
                cc += cd * cd
            dm = np.floor(((qq[None, :] - 2.0 * ab) + cc[:, None])
                          * 1000000.0 + 0.5).astype(np.int64)
            oq, on, od = _batch_q_top5(ids, qids, dm)
            yield pa.RecordBatch.from_arrays(
                [pa.array(oq, type=pa.int64()),
                 pa.array(on, type=pa.int64()),
                 pa.array(od, type=pa.int64())],
                names=["query_id", "neighbor_id", "_dm"])

    return emb.select("vec_id", "embedding").mapInArrow(
        kernel, schema="query_id long, neighbor_id long, _dm long")


def _grouped_top5(scored, id_col="neighbor_id", dm_col="_dm",
                  salt=64):
    """Per-query exact top-5 WITHOUT a per-group row_number window:
    the window full-sorts every scored pair inside each query's
    partition (the bench-dominant ~3 s of every recall dial at sf0.1
    — r13 verdict item 7), while collect_list + array_sort + slice
    aggregates the same integer (distance, id) structs with the
    IDENTICAL tie order (struct comparison is field-lexicographic:
    distance asc, then id asc — the window's orderBy spelled as
    data). Arithmetic unchanged, so every recall oracle hash is
    preserved; only the physical plan differs.

    TWO-STAGE with an id-derived salt: stage 1 takes the top-5 per
    (query, id % salt) — bounding any single task's collected list to
    ~corpus/salt — and stage 2 re-tops the 5*salt survivors. Global
    top-5 == top-5 of the per-salt top-5s (each true winner wins its
    own salt class), so exactness is structural; a single-stage
    collect materialized the whole query group in ONE task, the
    memory shape that OOMs at real corpus size. Wall-neutral at sf0.1
    (3.7 vs 3.9 s warm on the trained-recall head). The dial's total
    work remains linear in corpus — inherent to EXACT ground truth
    (the measured index entries never pay this)."""
    st = F.struct(F.col(dm_col).alias("_d"), F.col(id_col).alias("_i"))
    loc = (scored.withColumn("_sa", F.pmod(F.col(id_col), F.lit(salt)))
           .groupBy("query_id", "_sa")
           .agg(F.slice(F.array_sort(F.collect_list(st)), 1, 5)
                .alias("_t"))
           .select("query_id", F.explode("_t").alias("_s")))
    return (loc.groupBy("query_id")
            .agg(F.slice(F.array_sort(F.collect_list(
                F.struct(F.col("_s._d").alias("_d"),
                         F.col("_s._i").alias("_i")))), 1, 5)
                .alias("_t"))
            .select("query_id", F.explode("_t").alias("_s"))
            .select("query_id", F.col("_s._i").alias(id_col)))


@register("sim_pq_recall", f"""
WITH _pqr_q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _RECALL_QUERY_IDS)})
),
_pqr_exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(floor(
               ({sim.sql_l2sq('q.qv', 'e.embedding', _EMB_DIM)})
               * 1000000.0 + 0.5) AS BIGINT) ASC, e.vec_id ASC) AS rn
    FROM _pqr_q q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id) WHERE rn <= 5
),
_pqr_adc AS ({sim.sql_pq_adc_topk('embeddings', _RECALL_QUERY_IDS,
                                  _EMB_DIM, k=5)})
SELECT x.query_id,
       CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM _pqr_exact x LEFT JOIN _pqr_adc a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
""")
def sim_pq_recall(spark, sf_dir):
    """Compression-quality measurement: recall@5 of the PQ/ADC scan
    against the EXACT L2 top-5 (ADC approximates L2, so L2 — not
    cosine — is the right ground truth), per query. This is the dial
    a codebook trainer tunes m/k against: more subspaces or codes →
    higher recall, bigger codes. Both rankings use the same
    micro-quantized integer distances and tie order."""
    emb = load(spark, sf_dir, "embeddings")
    scored = _exact_l2_scored(emb, _RECALL_QUERY_IDS)
    exact = _grouped_top5(scored)
    adc = sim.pq_adc_topk(emb, _RECALL_QUERY_IDS, _EMB_DIM, k=5).select(
        F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n"))
    return (
        exact.join(F.broadcast(adc), (F.col("_q") == F.col("query_id"))
                   & (F.col("_n") == F.col("neighbor_id")), "left")
        .groupBy("query_id")
        .agg((F.count("_n").cast("double") / 5.0).alias("recall_at_5"))
    )


@register("sim_sq_recall", f"""
WITH _sqr_q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _RECALL_QUERY_IDS)})
),
_sqr_exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(floor(
               ({sim.sql_l2sq('q.qv', 'e.embedding', _EMB_DIM)})
               * 1000000.0 + 0.5) AS BIGINT) ASC, e.vec_id ASC) AS rn
    FROM _sqr_q q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id) WHERE rn <= 5
),
_sqr_stats AS (
  SELECT dim, min(CAST(v AS DOUBLE)) AS lo, max(CAST(v AS DOUBLE)) AS hi
  FROM (SELECT unnest(generate_series(1, {_EMB_DIM})) AS dim,
               unnest(embedding) AS v FROM embeddings)
  GROUP BY dim
),
_sqr_model AS (
  SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
  FROM _sqr_stats
),
_sqr_codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, {_EMB_DIM}), i ->
           CAST(coalesce(floor(
             ((CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
               - m.lo[CAST(i AS INTEGER)])
              / nullif(m.hi[CAST(i AS INTEGER)]
                       - m.lo[CAST(i AS INTEGER)], 0))
             * 255.0 + 0.5), 0) AS BIGINT)) AS c
  FROM embeddings, _sqr_model m
),
_sqr_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(
                 generate_series(1, {_EMB_DIM}), i ->
                 (q.c[CAST(i AS INTEGER)] - e.c[CAST(i AS INTEGER)])
                 * (q.c[CAST(i AS INTEGER)] - e.c[CAST(i AS INTEGER)])))
               AS BIGINT) ASC, e.vec_id ASC) AS rn
    FROM (SELECT * FROM _sqr_codes WHERE vec_id IN
            ({", ".join(str(i) for i in _RECALL_QUERY_IDS)})) q
    CROSS JOIN _sqr_codes e
    WHERE e.vec_id <> q.vec_id) WHERE rn <= 5
)
SELECT x.query_id,
       CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM _sqr_exact x LEFT JOIN _sqr_topk a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
""")
def sim_sq_recall(spark, sf_dir):
    """Scalar quantization (SQ-int8) recall@5 vs exact L2 — the
    remaining classic of the vector-compression family (PQ compresses
    by codebook lookup; SQ compresses each DIMENSION independently to
    one byte via per-dim min/max affine mapping — FAISS's
    ScalarQuantizer, the standard 4x memory cut that keeps distances
    cheap integer arithmetic). The model is 2*dim doubles — broadcast
    as a one-row frame exactly like the kmeans/PQ codebooks (constant
    size, never a data collect); encoding is one zero-shuffle map
    pass; the scan scores int64 (qa-qb)^2 sums with no float anywhere
    past encode, so shard order cannot flip a bit. Zero-span
    dimensions quantize to 0 on both engines (coalesce-over-nullif ==
    the when(span=0) guard). Recall measured on the same 100-query
    truth set as the PQ dials: SQ preserves per-dim resolution that
    PQ's shared codebook spends, so its recall should dominate
    sampled-PQ at 16x the memory of a 4-bit code — measured 0.818
    mean recall@5 at sf0.01 vs sampled-PQ's 0.104 / IVFADC's 0.144:
    the memory-for-recall tradeoff a 100 TB index designer actually
    reads."""
    emb = load(spark, sf_dir, "embeddings")
    stats = (emb.select(F.posexplode("embedding").alias("_d0", "_v"))
             .groupBy((F.col("_d0") + 1).alias("dim"))
             .agg(F.min(F.col("_v").cast("double")).alias("lo"),
                  F.max(F.col("_v").cast("double")).alias("hi")))
    model = stats.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "lo"))),
                    lambda s: s["lo"]).alias("_lo"),
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "hi"))),
                    lambda s: s["hi"]).alias("_hi"))

    def quant(i):
        x = F.element_at(F.col("embedding"), i).cast("double")
        lo = F.element_at(F.col("_lo"), i)
        span = F.element_at(F.col("_hi"), i) - lo
        return (F.when(span == 0, F.lit(0).cast("long"))
                .otherwise(F.floor(((x - lo) / span) * 255.0 + 0.5)))

    codes = (emb.crossJoin(F.broadcast(model))
             .select("vec_id",
                     F.transform(F.sequence(F.lit(1), F.lit(_EMB_DIM)),
                                 quant).alias("c")))
    # r17: the interpreted zip_with/aggregate fold re-ran 64 lambda
    # steps per (query, corpus) pair — the dial's dominant cost after
    # the exact side moved into its kernel. The same numpy mapInArrow
    # shape scores the int codes instead: query codes are a BOUNDED
    # collect (|Q| rows of dim bytes — the broadcast-a-model class),
    # the corpus codes stream through once, and only per-batch top-5
    # rows cross back. EXACTNESS IS INTEGER, not approximate: codes
    # are ints in [0, 255], so qq/ab/cc and the expansion
    # sum((a-b)^2) = qq - 2ab + cc are integers bounded by
    # 64*255^2*3 < 2^53 — every float64 op below is exact and
    # accumulation order cannot matter, preserving the JVM fold's
    # "no float anywhere past encode" bit-stability. Per-batch top-5
    # keeps the (dm, id) tie order via _batch_q_top5.
    qrows = (codes.filter(F.col("vec_id").isin(_RECALL_QUERY_IDS))
             .collect())
    sq_qids = [int(r[0]) for r in qrows]
    sq_qcm = [[int(x) for x in r[1]] for r in qrows]

    def sq_kernel(it):
        import numpy as np
        import pyarrow as pa

        qids = np.asarray(sq_qids, dtype=np.int64)
        qm = np.asarray(sq_qcm, dtype=np.float64)
        nq, dim = qm.shape
        qq = (qm * qm).sum(axis=1)
        for batch in it:
            tbl = pa.Table.from_batches([batch]).combine_chunks()
            ids = tbl.column("vec_id").to_numpy().astype(np.int64)
            col = tbl.column("c").chunk(0)
            flat = col.flatten().to_numpy().astype(np.float64)
            cm = flat.reshape(len(ids), dim)
            ab = cm @ qm.T
            cc = (cm * cm).sum(axis=1)
            dm = (qq[None, :] - 2.0 * ab + cc[:, None]).astype(np.int64)
            oq, on, od = _batch_q_top5(ids, qids, dm)
            yield pa.RecordBatch.from_arrays(
                [pa.array(oq, type=pa.int64()),
                 pa.array(on, type=pa.int64()),
                 pa.array(od, type=pa.int64())],
                names=["query_id", "neighbor_id", "_dm"])

    scored = codes.mapInArrow(
        sq_kernel, schema="query_id long, neighbor_id long, _dm long")
    topk = _grouped_top5(scored).select(
        F.col("query_id").alias("_q"),
        F.col("neighbor_id").alias("_n"))
    escore = _exact_l2_scored(emb, _RECALL_QUERY_IDS)
    exact = _grouped_top5(escore)
    return (
        exact.join(F.broadcast(topk), (F.col("_q") == F.col("query_id"))
                   & (F.col("_n") == F.col("neighbor_id")), "left")
        .groupBy("query_id")
        .agg((F.count("_n").cast("double") / 5.0).alias("recall_at_5"))
    )


@register("sim_pq_trained_recall", f"""
WITH _tpr_q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _RECALL_QUERY_IDS)})
),
_tpr_exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(floor(
               ({sim.sql_l2sq('q.qv', 'e.embedding', _EMB_DIM)})
               * 1000000.0 + 0.5) AS BIGINT) ASC, e.vec_id ASC) AS rn
    FROM _tpr_q q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id) WHERE rn <= 5
),
_tpr_adc AS ({sim.sql_pq_adc_topk_trained('embeddings', _RECALL_QUERY_IDS,
                                          _EMB_DIM, k=5)})
SELECT x.query_id,
       CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM _tpr_exact x LEFT JOIN _tpr_adc a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
""")
def sim_pq_trained_recall(spark, sf_dir):
    """Recall@5 of the TRAINED-codebook PQ/ADC scan against the exact
    L2 top-5 — the round-9 completion of the PQ family: sim_pq_recall
    measures the deterministic-sample codebook (the IVF-style cheap
    stand-in); this entry trains per-subspace Lloyd codebooks
    (functions/similarity.py pq_trained_codebooks, Jegou 2011 §II)
    with the same fixed-iteration oracle-checked loop as
    sim_kmeans_centroids, so the reported recall reflects a REAL
    index. Quality bar: training cuts total quantization error ~30%
    vs the sampled codebook (monotone in iterations; pinned by
    tests/test_functions.py::test_pq_trained_beats_sampled_on_
    quantization_error). Recall@5 here is measured over the 100-query
    truth set (500 samples — the round-9 10-query dial could not
    rank two codebooks; see _RECALL_QUERY_IDS). The
    trained codebook is a constant-size model (m*k rows) collected
    once and rebroadcast — the train-on-sample / broadcast-model
    pattern, not a data collect."""
    emb = load(spark, sf_dir, "embeddings")
    scored = _exact_l2_scored(emb, _RECALL_QUERY_IDS)
    exact = _grouped_top5(scored)
    adc = sim.pq_adc_topk_trained(emb, _RECALL_QUERY_IDS, _EMB_DIM, k=5).select(
        F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n"))
    return (
        exact.join(F.broadcast(adc), (F.col("_q") == F.col("query_id"))
                   & (F.col("_n") == F.col("neighbor_id")), "left")
        .groupBy("query_id")
        .agg((F.count("_n").cast("double") / 5.0).alias("recall_at_5"))
    )


@register("sim_ivfpq_ann", expand_round6(
    sim.sql_ivfpq_adc_topk("embeddings", _QUERY_IDS, _EMB_DIM, k=5)))
def sim_ivfpq_ann(spark, sf_dir):
    """IVFADC — IVF coarse pruning COMPOSED with PQ residual codes
    (Jegou 2011 §V), the index shape billion-vector ANN actually
    deploys: sim_ivf_ann prunes but stores full vectors (memory-bound
    at scale), sim_pq_adc_topk compresses but scans every code
    (compute-bound at scale); this entry does both — nprobe inverted
    lists scanned, each candidate scored by m table lookups over
    codes that encode the RESIDUAL x - coarse_centroid, so the 4
    bytes of PQ code spend their precision on what the coarse
    quantizer missed. All model artifacts (centroids, residual
    codebook, per-query distance tables) are constant-size
    broadcasts; the corpus shuffles once at encode time and never at
    search time. Exact-integer determinism end to end (micro-
    quantized L2, ties to lower ids) — see
    functions/similarity.py ivfpq_adc_topk."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.ivfpq_adc_topk(emb, _QUERY_IDS, _EMB_DIM, k=5)


@register("sim_ivfpq_recall", f"""
WITH _ipr_q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _RECALL_QUERY_IDS)})
),
_ipr_exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(floor(
               ({sim.sql_l2sq('q.qv', 'e.embedding', _EMB_DIM)})
               * 1000000.0 + 0.5) AS BIGINT) ASC, e.vec_id ASC) AS rn
    FROM _ipr_q q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id) WHERE rn <= 5
),
_ipr_adc AS ({sim.sql_ivfpq_adc_topk('embeddings', _RECALL_QUERY_IDS,
                                     _EMB_DIM, k=5)})
SELECT x.query_id,
       CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM _ipr_exact x LEFT JOIN _ipr_adc a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
""")
def sim_ivfpq_recall(spark, sf_dir):
    """Recall@5 of the composed IVFADC index against the exact L2
    top-5 over the 100-query truth set — the dial that separates the
    TWO loss sources the composition stacks: vs sim_pq_recall (flat
    PQ, no pruning) it reads off residual-coding gain against nprobe
    shortlist cost. Measured at sf0.01: IVFADC 0.144 vs flat
    sampled-PQ 0.104 — the residual codes' lower quantization error
    MORE than pays for scanning only 2/32 of the lists, which is
    precisely Jegou's §V argument for composing rather than choosing.
    nprobe is the runtime dial (more probes = more candidates =
    higher recall, linearly more cost). Truth set stays
    query-side-broadcast like every recall dial."""
    emb = load(spark, sf_dir, "embeddings")
    scored = _exact_l2_scored(emb, _RECALL_QUERY_IDS)
    exact = _grouped_top5(scored)
    adc = sim.ivfpq_adc_topk(emb, _RECALL_QUERY_IDS, _EMB_DIM, k=5).select(
        F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n"))
    return (
        exact.join(F.broadcast(adc), (F.col("_q") == F.col("query_id"))
                   & (F.col("_n") == F.col("neighbor_id")), "left")
        .groupBy("query_id")
        .agg((F.count("_n").cast("double") / 5.0).alias("recall_at_5"))
    )


@register("sim_truncated_recall", f"""
WITH _tr_q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         embedding[1:16] AS qv16
  FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
),
_tr_c AS (
  SELECT vec_id AS nid, embedding AS cv, embedding[1:16] AS cv16
  FROM embeddings
),
_tr_exact AS (
  SELECT query_id, nid FROM (
    SELECT q.query_id, c.nid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(floor(
               ({sim.sql_l2sq('q.qv', 'c.cv', _EMB_DIM)})
               * 1000000.0 + 0.5) AS BIGINT) ASC, c.nid ASC) AS rn
    FROM _tr_q q CROSS JOIN _tr_c c
    WHERE c.nid <> q.query_id) WHERE rn <= 5
),
_tr_trunc AS (
  SELECT query_id, nid FROM (
    SELECT q.query_id, c.nid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(floor(
               ({sim.sql_l2sq('q.qv16', 'c.cv16', 16)})
               * 1000000.0 + 0.5) AS BIGINT) ASC, c.nid ASC) AS rn
    FROM _tr_q q CROSS JOIN _tr_c c
    WHERE c.nid <> q.query_id) WHERE rn <= 5
)
SELECT x.query_id,
       CAST(count(t.nid) AS DOUBLE) / 5.0 AS recall_at_5
FROM _tr_exact x LEFT JOIN _tr_trunc t
  ON t.query_id = x.query_id AND t.nid = x.nid
GROUP BY x.query_id
""")
def sim_truncated_recall(spark, sf_dir):
    """Dimension-truncation retrieval quality (the Matryoshka /
    adaptive-retrieval question — Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022): recall@5 of ranking by
    the FIRST 16 of 64 dims against the full-dimension exact-L2
    truth, per query. This is the dial a 100 TB vector store tunes
    when it shortlists with truncated prefixes (4x less memory
    traffic per candidate) and re-ranks survivors at full width —
    alongside sim_pq_recall (code compression) and sim_ivf_recall
    (candidate pruning) it completes the three cost axes of
    large-scale ANN. Both rankings broadcast the query side; the
    corpus never shuffles; micro-quantized integer distances and
    id tie order keep the top-5 sets bit-identical cross-engine."""
    emb = load(spark, sf_dir, "embeddings")
    # both widths' self-dots hoisted below the cross join (see
    # _exact_l2_scored): 3 folds/pair -> 1 per distance
    q = F.broadcast(emb.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.slice("embedding", 1, 16).alias("_qv16"))
        .withColumn("_qq", sim.dot(F.col("_qv"), F.col("_qv")))
        .withColumn("_qq16", sim.dot(F.col("_qv16"), F.col("_qv16"))))
    c = (emb.select(F.col("vec_id").alias("nid"),
                    F.col("embedding").alias("_cv"),
                    F.slice("embedding", 1, 16).alias("_cv16"))
         .withColumn("_cc", sim.dot(F.col("_cv"), F.col("_cv")))
         .withColumn("_cc16", sim.dot(F.col("_cv16"), F.col("_cv16"))))
    scored = (q.crossJoin(c)
              .filter(F.col("nid") != F.col("query_id"))
              .select(
                  "query_id", "nid",
                  F.floor(sim.l2sq_pre(F.col("_qq"),
                                       sim.dot(F.col("_qv"),
                                               F.col("_cv")),
                                       F.col("_cc"))
                          * F.lit(1000000.0) + F.lit(0.5))
                  .cast("long").alias("_df"),
                  F.floor(sim.l2sq_pre(F.col("_qq16"),
                                       sim.dot(F.col("_qv16"),
                                               F.col("_cv16")),
                                       F.col("_cc16"))
                          * F.lit(1000000.0) + F.lit(0.5))
                  .cast("long").alias("_dt")))
    exact = _grouped_top5(scored, id_col="nid", dm_col="_df")
    trunc = _grouped_top5(scored, id_col="nid", dm_col="_dt").select(
        F.col("query_id").alias("_q"), F.col("nid").alias("_n"))
    return (
        exact.join(F.broadcast(trunc),
                   (F.col("_q") == F.col("query_id"))
                   & (F.col("_n") == F.col("nid")), "left")
        .groupBy("query_id")
        .agg((F.count("_n").cast("double") / 5.0).alias("recall_at_5"))
    )


@register("streaming_w3_running_sum", ORACLES["w3_running_sum"])
def streaming_w3_running_sum(spark, sf_dir):
    """W3 per-key running sum (SharePriceDataflow.java:121-122) through
    the REAL streaming runtime — readStream → applyInPandasWithState
    with an exact integer-cents accumulator (the same portability rule
    as every money sum here: float accumulation would tie parity to
    arrival order; cents make it exact) — hash-checked against the
    batch twin's oracle. Fourth streaming-engine entry in the gate
    (ST1, ST6, W2, W3)."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    ev = enrich_events(raw).select(
        "event_type", "ts", "event_id", _cents(F.col("value")).alias("_c"))
    # running_cents_step carries a numpy-cumsum vectorized path —
    # integer cents are associative, so it's bit-identical to the
    # scalar fold and the whole micro-batch leaves the Python loop.
    out = stateful.apply_per_event_stream(
        ev, ["event_type"], ["ts", "event_id"],
        stateful.running_cents_step,
        "event_type string, event_id long, running_sum double",
        "total long",
        lambda s: (int(s[0]),), lambda r: (int(r[0]),))
    return _run_stream_to_table(spark, out, "w3_stream").select(
        "event_id", "event_type", "running_sum")


@register("w5_distinct_users_per_team", f"""
WITH {EV_SQL}
SELECT team, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM ev GROUP BY team
""")
def w5_distinct_users_per_team(spark, sf_dir):
    """W5 dashboard distinct-visitor count per team, written as the
    explicit two-stage expansion — dedupe on the uniform (team, user)
    composite, then count per team — so the heavy shuffle is keyed by
    the high-cardinality pair, never by the 5 skewed team values
    (count(DISTINCT) on a low-cardinality key is the classic skew trap
    at 100 TB; this is its salt-free fix because the dedupe key is
    already uniform)."""
    ev = events_enriched(spark, sf_dir)
    return (
        ev.select("team", "user_id").distinct()
        .groupBy("team")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register("w6_session_window", f"""
WITH {EV_SQL},
x AS (
  SELECT trader, event_id, value, epoch_us(ts) AS t_us,
         lag(epoch_us(ts)) OVER (PARTITION BY trader
                                 ORDER BY ts, event_id) AS prev_us
  FROM ev),
y AS (
  SELECT trader, t_us, value,
         sum(CASE WHEN prev_us IS NULL
                       OR t_us - prev_us > 300000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY trader ORDER BY t_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
  FROM x)
SELECT min(t_us) AS session_start_us,
       max(t_us) + 300000000 AS session_end_us,
       trader,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
         AS sum_value
FROM y GROUP BY trader, sess
""")
def w6_session_window(spark, sf_dir):
    """Session windows (5-minute inactivity gap) per trader — a window
    type beyond the reference's tumbling set that event analytics
    needs; native F.session_window in Spark, gaps-and-islands (lag →
    island id → group) in the oracle. All arithmetic in MICROSECONDS:
    the events table has sub-millisecond timestamps, and a millisecond
    truncation makes the two engines disagree on gap boundaries within
    1 ms of the threshold. An event EXACTLY gap after the previous
    EXTENDS the session (Spark merges on diff <= gap — end-inclusive,
    found empirically); one microsecond over starts a new one — pinned
    by test_session_window_gap_boundary."""
    ev = events_enriched(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("_w"),
                   "trader")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("_w.start")).alias("session_start_us"),
            F.unix_micros(F.col("_w.end")).alias("session_end_us"),
            "trader", "n_events", "sum_value",
        )
    )


@register("w7_sliding_window", f"""
WITH {EV_SQL},
x AS (
  SELECT team, value, epoch_us(ts) AS t_us,
         unnest(generate_series(0, 1)) AS k
  FROM ev)
SELECT (t_us // 3600000000) * 3600000000 - k * 3600000000
         AS window_start_us,
       team,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
         AS sum_value
FROM x GROUP BY 1, 2
""")
def w7_sliding_window(spark, sf_dir):
    """Hopping (sliding) windows — 2-hour windows every hour, per team:
    the other window type the reference's tumbling-only set lacks.
    Spark's F.window(size, slide) assigns each event to size/slide
    windows; the oracle replays the same assignment by exploding the
    k = 0..1 window starts aligned to the epoch (identical alignment
    rule to Spark's), in microseconds for the same reason as
    w6_session_window."""
    ev = events_enriched(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("_w"), "team")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("_w.start")).alias("window_start_us"),
            "team", "n_events", "sum_value",
        )
    )


@register("w5_median_value_per_team", f"""
WITH {EV_SQL}
SELECT team, ROUND6(quantile_cont(value, 0.5)) AS median_value,
       ROUND6(quantile_cont(value, 0.95)) AS p95_value
FROM ev GROUP BY team
""")
def w5_median_value_per_team(spark, sf_dir):
    """W5 exact median / p95 per team (linear-interpolation quantiles —
    Spark percentile == DuckDB quantile_cont). Exact percentiles
    materialize each group's values; at 100 TB swap in
    approx_percentile (t-digest, mergeable map-side) and keep this as
    the small-group/audit path."""
    ev = events_enriched(spark, sf_dir)
    return ev.groupBy("team").agg(
        round_portable(F.percentile("value", F.lit(0.5)))
        .alias("median_value"),
        round_portable(F.percentile("value", F.lit(0.95)))
        .alias("p95_value"),
    )


_WSAMP_K = 50
_WSAMP_SALT = "wsamp1"

_WSAMP_SQL = f"""
WITH _ws AS (
  SELECT doc_id,
         greatest(n_chars, 1) AS weight,
         CAST(('0x' || substr(md5('{_WSAMP_SALT}'
                              || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) // greatest(n_chars, 1) AS priority
  FROM documents
)
SELECT doc_id, weight, priority,
       CAST(row_number() OVER (ORDER BY priority, doc_id)
            AS INTEGER) AS rank
FROM _ws
ORDER BY priority, doc_id LIMIT {_WSAMP_K}
"""


@register("pipeline_weighted_sample", _WSAMP_SQL)
def pipeline_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield, Lund & Thorup, JACM 2007; the deterministic cousin of
    Efraimidis-Spirakis): each doc gets priority = H/w where H is a
    60-bit content-independent uniform hash of its id and w its
    weight (chars here — any importance score slots in); the sample
    is the k SMALLEST priorities, so heavier docs are
    proportionally likelier to be drawn, the draw is reproducible
    across runs/shards/engines (no RNG state), and adding data never
    changes an already-drawn doc's priority — the property that makes
    the sample INCREMENTALLY maintainable at 100 TB. All integer:
    H // w stays exact in int64 on both engines (no float pow/log of
    the classic u^(1/w) spelling, which could split engines in the
    last ulp). The k-smallest finisher is the bounded
    TakeOrdered + constant-k rank, never a global sort."""
    docs = load(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1))
    scored = docs.select(
        "doc_id", w.cast("long").alias("weight"),
        F.expr(f"conv(substring(md5(concat('{_WSAMP_SALT}', "
               f"cast(doc_id as string))), 1, 15), 16, 10)")
        .cast("long").alias("_h"))
    scored = scored.select(
        "doc_id", "weight",
        F.expr("_h div weight").alias("priority"))
    return _topk_ranked(
        scored, [F.col("priority").asc(), F.col("doc_id").asc()],
        _WSAMP_K, "rank")


_WSAMP_SHARDS = 16


@register("streaming_weighted_sample", _WSAMP_SQL)
def streaming_weighted_sample(spark, sf_dir):
    """The priority sample maintained ON THE LIVE STREAMING RUNTIME —
    sample-on-ingest, SHARDED: the stream keys by doc_id mod
    _WSAMP_SHARDS (16) and applyInPandasWithState holds the k smallest
    (priority, doc_id, weight) triples PER SHARD
    (stateful.priority_sample_step), so ingest parallelism scales with
    the shard count instead of funneling the whole corpus through one
    state key (the constant-re-key shape this entry deliberately
    avoids). The finalize merges the shard samples — a bounded
    shards*k-row frame — through the same bottom-k, which is exact by
    the union theorem: every global bottom-k triple is in its own
    shard's bottom-k. Priorities are a pure function of (id, weight),
    so the per-shard merge is also lossless under ANY micro-batching,
    and the result provably equals the batch twin
    pipeline_weighted_sample under the SAME oracle. Hashing stays
    JVM-side (the identical conv/md5 projection); Python only merges
    k-sized sorted lists per Arrow batch. At 100 TB, set shards ~
    ingest partitions; state is shards * k triples total."""
    from ..streaming import stateful

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = _table_stream(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1))
    src = raw.select(
        F.pmod(F.col("doc_id"), F.lit(_WSAMP_SHARDS)).cast("string")
        .alias("_k"),
        F.col("doc_id").alias("_id"),
        w.cast("long").alias("_w"),
        F.expr(f"conv(substring(md5(concat('{_WSAMP_SALT}', "
               f"cast(doc_id as string))), 1, 15), 16, 10)")
        .cast("long").alias("_h"))
    src = src.withColumn("_prio", F.expr("_h div _w"))
    out = stateful.apply_per_event_stream(
        src, ["_k"], ["_id"], lambda: stateful.priority_sample_step(
            _WSAMP_K),
        "_k string, seq long, prios array<long>, ids array<long>, "
        "ws array<long>",
        "prios array<long>, ids array<long>, ws array<long>, seq long",
        pack=lambda s: (s[0], s[1], s[2], s[3]),
        unpack=lambda r: (list(r[0]), list(r[1]), list(r[2]),
                          int(r[3])))
    sunk = _run_stream_to_table(spark, out, "wsamp_stream")
    last = (sunk.withColumn(
        "_rn", F.row_number().over(
            Window.partitionBy("_k").orderBy(F.col("seq").desc())))
        .filter(F.col("_rn") == 1))
    trips = last.select(F.explode(
        F.arrays_zip("prios", "ids", "ws")).alias("_t")).select(
        F.col("_t.ids").alias("doc_id"),
        F.col("_t.ws").alias("weight"),
        F.col("_t.prios").alias("priority"))
    # shard merge: bottom-k over the bounded shards*k frame — the
    # constant-size finisher (TakeOrdered + constant-k rank, the same
    # shape as the batch twin's)
    return _topk_ranked(
        trips, [F.col("priority").asc(), F.col("doc_id").asc()],
        _WSAMP_K, "rank")


_MIX_RATES = {"en": 0.8, "es": 0.5, "und": 0.1}


@register("pipeline_stratified_sample", f"""
WITH langs AS ({tx.sql_lang_id('documents')}),
docs_l AS (SELECT d.doc_id, d.text, l.pred_lang
           FROM documents d JOIN langs l ON l.doc_id = d.doc_id)
{tx.sql_stratified_sample('docs_l', 'pred_lang', _MIX_RATES)}
""")
def pipeline_stratified_sample(spark, sf_dir):
    """Domain-mixture sampling: language-ID each doc, then sample each
    stratum at its mixture rate (en 0.8 / es 0.5 / und 0.1) with a
    content-keyed deterministic hash — the DoReMi/Pile-style mixture
    step, re-shard-stable and oracle-checked."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    langs = tx.lang_id(docs).select("doc_id", "pred_lang")
    docs_l = docs.join(langs, "doc_id")
    return tx.stratified_sample(docs_l, "pred_lang", _MIX_RATES)


@register("text_vocab_top100", tx.sql_vocab_topk("documents", k=100))
def text_vocab_top100(spark, sf_dir):
    """Corpus top-100 token frequency table (vocabulary building):
    map-side-combined counts + TakeOrdered top-k, deterministic
    tie-break on the token."""
    return tx.vocab_topk(load(spark, sf_dir, "documents"), k=100)


@register("text_top_terms_per_doc", f"""
WITH _tt_tok AS (
  SELECT doc_id, unnest({tx.sql_tokens('text')}) AS term
  FROM documents
),
_tt_tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM _tt_tok WHERE length(term) >= 3
  GROUP BY doc_id, term
),
_tt_df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_docs
  FROM _tt_tf GROUP BY term
),
_tt_rank AS (
  SELECT f.doc_id, f.term, f.tf, d.df_docs,
         row_number() OVER (
           PARTITION BY f.doc_id
           ORDER BY f.tf DESC, d.df_docs ASC, f.term ASC) AS rank
  FROM _tt_tf f JOIN _tt_df d ON d.term = f.term
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df_docs
FROM _tt_rank WHERE rank <= 3
""")
def text_top_terms_per_doc(spark, sf_dir):
    """Top-3 distinctive terms per document — keyword extraction for
    corpus inspection / tagging, ranked by (tf DESC, df ASC, term ASC):
    high in-doc frequency broken toward corpus-RARE terms. This is
    TF-IDF's argsort without forming the float score — for a FIXED
    document, tf·idf(df) ordering under ties-broken-by-df is exactly
    the lexicographic (tf, -df) order used here, so the ranking is
    pure-integer and oracle-exact (no cross-engine log/float drift).
    Plan: explode → (doc,term) count (map-side combined), df from the
    SAME deduped grain (one keyed shuffle on term, AQE-broadcast when
    small), rank window keyed by doc_id (per-doc term lists are
    bounded) — every shuffle is keyed, nothing global."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
        .filter(F.length("term") >= 3))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    df_docs = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df_docs").asc(), F.col("term").asc())
    return (
        tf.join(df_docs, "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df_docs")
    )


@register("text_lang_confusion", f"""
WITH langs AS ({tx.sql_lang_id('documents')})
SELECT d.lang AS true_lang, l.pred_lang,
       CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN langs l ON l.doc_id = d.doc_id
GROUP BY 1, 2
""")
def text_lang_confusion(spark, sf_dir):
    """Language-ID evaluation against the corpus's ground-truth lang
    column: the (true, predicted) confusion table — the evaluation every
    classifier in a curation pipeline ships with."""
    docs = load(spark, sf_dir, "documents")
    langs = tx.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(langs, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("sim_knn_label_accuracy", f"""
WITH bf AS ({sim.sql_cosine_topk('embeddings', _QUERY_IDS, _EMB_DIM, k=5)})
SELECT bf.query_id,
       CAST(sum(CASE WHEN nb.label = q.label THEN 1 ELSE 0 END) AS DOUBLE)
         / 5.0 AS label_agreement
FROM bf
JOIN embeddings q ON q.vec_id = bf.query_id
JOIN embeddings nb ON nb.vec_id = bf.neighbor_id
GROUP BY bf.query_id
""")
def sim_knn_label_accuracy(spark, sf_dir):
    """kNN evaluation against the embeddings' ground-truth label: the
    fraction of each query's exact top-5 neighbors sharing its label —
    the standard retrieval-quality probe for an embedding space."""
    emb = load(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    bf = sim.cosine_topk(emb, _QUERY_IDS, k=5)
    return (
        bf.join(F.broadcast(labels.withColumnRenamed("vec_id", "query_id")
                            .withColumnRenamed("label", "_ql")), "query_id")
        .join(labels.withColumnRenamed("vec_id", "neighbor_id")
              .withColumnRenamed("label", "_nl"), "neighbor_id")
        .groupBy("query_id")
        .agg((F.sum(F.when(F.col("_nl") == F.col("_ql"), 1).otherwise(0))
              .cast("double") / 5.0).alias("label_agreement"))
    )


@register("pipeline_length_quantiles", """
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
r AS (
  SELECT d.source, CAST(d.n_chars AS BIGINT) AS nc,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY d.n_chars NULLS LAST, d.doc_id) AS rn,
         c.n_docs
  FROM documents d JOIN c ON c.source = d.source)
SELECT source, n_docs,
       max(CASE WHEN rn = (n_docs + 1) // 2 THEN nc END) AS p50_chars,
       max(CASE WHEN rn = (9 * n_docs + 9) // 10 THEN nc END) AS p90_chars,
       max(CASE WHEN rn = (99 * n_docs + 99) // 100 THEN nc END) AS p99_chars
FROM r
GROUP BY source, n_docs
""")
def pipeline_length_quantiles(spark, sf_dir):
    """Per-source document-length distribution report (p50/p90/p99 of
    n_chars) — the length-profile table a pretraining pipeline emits
    to spot truncation-heavy or fragment-heavy sources. Quantiles are
    TYPE-1 DISCRETE (the value at rank ceil(p·n), computed by integer
    arithmetic with a doc_id tie-break) — no interpolation, so the
    result is an actual corpus value and bit-equal cross-engine,
    where Spark's continuous `percentile` and DuckDB's quantile_cont
    could drift in float. Scale shape: per-source counts are a tiny
    broadcast; the rank window shuffles once on source (bounded
    cardinality — at 100 TB sources are O(100), so each partition is
    a single ordered scan; for skewed giant sources the same ranks
    could be found by per-source binary search over count-by-value,
    trading a second pass for no window)."""
    d = load(spark, sf_dir, "documents").select("source", "n_chars",
                                                "doc_id")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc_nulls_last(), "doc_id")
    nd = F.col("n_docs")
    idx = lambda num, den: F.floor((nd * num + num) / F.lit(den)).cast("long")
    ranked = (
        d.join(F.broadcast(counts), "source")
        .withColumn("rn", F.row_number().over(w))
    )
    pick = lambda i: F.max(F.when(F.col("rn") == i,
                                  F.col("n_chars").cast("long")))
    return (
        ranked.groupBy("source", "n_docs")
        .agg(pick(F.floor((nd + 1) / 2).cast("long")).alias("p50_chars"),
             pick(idx(9, 10)).alias("p90_chars"),
             pick(idx(99, 100)).alias("p99_chars"))
    )


@register("pipeline_source_report", expand_round6(f"""
WITH q AS ({tx.sql_quality_stats('documents')})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(floor(q.quality_score * 1000000 + 0.5) AS BIGINT))
            AS DOUBLE) / 1000000.0 / count(*) AS mean_quality,
       CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
FROM documents d JOIN q ON q.doc_id = d.doc_id
GROUP BY 1
"""))
def pipeline_source_report(spark, sf_dir):
    """Per-source curation report (docs, mean quality, token budget) —
    the dataset card a pretraining pipeline emits per provenance
    bucket. Mean quality sums integer-micro units so aggregation order
    can't break cross-engine parity."""
    docs = load(spark, sf_dir, "documents")
    q = tx.quality_stats(docs)
    return (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.floor(F.col("quality_score") * 1000000 + 0.5)
                   .cast("long")).cast("double") / 1000000.0
             / F.count(F.lit(1))).alias("mean_quality"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# Benchmark decontamination gram width: the GPT-3 appendix-C /
# Gopher-style "13-gram collision" scrub scaled to this corpus's short
# synthetic docs (which rarely reach 13 tokens).
_DECON_N = 8

_DECON_SQL = f"""
WITH _dc_ev AS (
  SELECT doc_id, {dd.sql_shingles('text', _DECON_N)} AS gs
  FROM documents WHERE doc_id % 50 = 7
),
_dc_eg AS (SELECT DISTINCT unnest(gs) AS shingle FROM _dc_ev),
_dc_tr AS (
  SELECT doc_id, {dd.sql_shingles('text', _DECON_N)} AS gs
  FROM documents WHERE doc_id % 50 <> 7
  UNION ALL
  SELECT doc_id + 30000, {dd.sql_shingles('text', _DECON_N)}
  FROM documents WHERE doc_id % 50 = 7 AND doc_id < 150
),
_dc_tg AS (SELECT doc_id, unnest(gs) AS shingle FROM _dc_tr),
_dc_hits AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM _dc_tg t JOIN _dc_eg e ON e.shingle = t.shingle
  GROUP BY t.doc_id
)
SELECT tr.doc_id, CAST(len(tr.gs) AS BIGINT) AS n_grams,
       coalesce(h.n_hit, 0) AS n_hit_grams,
       CAST(CASE WHEN coalesce(h.n_hit, 0) = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS keep
FROM _dc_tr tr LEFT JOIN _dc_hits h ON h.doc_id = tr.doc_id
"""


@register("pipeline_benchmark_decontam", _DECON_SQL)
def pipeline_benchmark_decontam(spark, sf_dir):
    """Eval-benchmark n-gram decontamination (Brown et al., GPT-3
    appendix C; Rae et al., Gopher): before training, scrub any
    training document sharing an {_DECON_N}-gram with the held-out
    benchmark. The eval set here is the deterministic doc_id%50==7
    slice, and 3 leaked verbatim copies (+30000 ids) are planted so
    the hit path is exercised, not decorative. Differs from
    pipeline_contamination (MinHash similarity BETWEEN sources): this
    is exact gram MEMBERSHIP against a fixed benchmark — the scrub
    that catches a verbatim test question pasted inside an otherwise
    novel document, which similarity thresholds miss. Output: one row
    per training doc with its distinct-gram count, hit count, and the
    keep verdict.

    100 TB shape: the benchmark gram set is tiny and bounded (eval
    suites are MBs) — it BROADCASTS, so the corpus-side gram stream
    joins map-side with no shuffle of the corpus at all (at larger
    benchmark sizes, the join_bloom_prefilter pattern slots in front
    unchanged); training grams are generated map-side by the shared
    posexplode+lead tokenizer and deduped per doc before the probe."""
    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 7)
    tr = (docs.filter(F.col("doc_id") % 50 != 7)
          .select("doc_id", "text")
          .unionByName(
              ev.filter(F.col("doc_id") < 150).select(
                  (F.col("doc_id") + 30000).alias("doc_id"), "text")))
    from ..operators import cache
    eg = (dd.shingles_exploded(ev, n=_DECON_N, distinct=True)
          .select("shingle").distinct())
    # one tokenize+dedup pass over the corpus, persisted: BOTH the
    # per-doc gram count and the benchmark probe read it (the previous
    # spelling computed the count via the array-HOF shingles() form —
    # the 8x-slower path shingles_exploded's docstring warns about —
    # and tokenized the corpus a second time for it: 11.6 -> ~4 s)
    tg = cache.maybe_persist(
        dd.shingles_exploded(tr, n=_DECON_N, distinct=True))
    hits = (tg.join(F.broadcast(eg), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    cnt = tg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"))
    # left joins from the full doc list: docs shorter than the gram
    # width have NO tg rows but still get a (0-gram, keep=1) verdict
    return (tr.select("doc_id")
            .join(cnt, "doc_id", "left")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
                    .alias("n_hit_grams"),
                    F.when(F.coalesce(F.col("n_hit"), F.lit(0)) == 0,
                           1).otherwise(0).cast("int").alias("keep")))


@register("pipeline_contamination", f"""
WITH pairs AS ({dd.sql_minhash_lsh_pairs('documents')})
SELECT least(a.source, b.source) AS source_x,
       greatest(a.source, b.source) AS source_y,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN documents a ON a.doc_id = p.id_a
JOIN documents b ON b.doc_id = p.id_b
WHERE p.est_jaccard >= 0.5 AND a.source <> b.source
GROUP BY 1, 2
""")
def pipeline_contamination(spark, sf_dir):
    """Cross-source contamination analysis: near-duplicate pairs
    (est_jaccard >= 0.5) whose two docs come from DIFFERENT provenance
    buckets, counted per source pair — the train/test-leakage audit an
    LLM pipeline runs before holding out an eval source. The source
    lookups broadcast (provenance tables are tiny next to the pair
    stream at scale)."""
    docs = load(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = dd.minhash_lsh_pairs(docs.select("doc_id", "text")).filter(
        F.col("est_jaccard") >= 0.5)
    j = (
        pairs
        .join(F.broadcast(src.withColumnRenamed("doc_id", "id_a")
                          .withColumnRenamed("source", "_sa")), "id_a")
        .join(F.broadcast(src.withColumnRenamed("doc_id", "id_b")
                          .withColumnRenamed("source", "_sb")), "id_b")
        .filter(F.col("_sa") != F.col("_sb"))
    )
    return j.groupBy(
        F.least("_sa", "_sb").alias("source_x"),
        F.greatest("_sa", "_sb").alias("source_y"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@register("streaming_st2_product", f"""
WITH {EV_SQL},
s AS (SELECT event_type,
             list(1.0 + value / CAST(10000.0 AS DOUBLE)
                  ORDER BY ts, event_id) AS vs,
             list(event_id ORDER BY ts, event_id) AS ids
      FROM ev GROUP BY event_type),
x AS (SELECT event_type,
             unnest(ids) AS event_id,
             unnest(list_transform(generate_series(1, len(vs)),
                 i -> list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                               list_slice(vs, 1, i)),
                                  (acc, v) -> acc * v))) AS pm
      FROM s)
SELECT event_type, event_id, ROUND6(pm) AS price_mult FROM x
""")
def streaming_st2_product(spark, sf_dir):
    """ST2 per-event multiplicative accumulator
    (SharePriceDataflow.java:72-96) through the live streaming runtime;
    the oracle replays every prefix of the same left-to-right product.
    Fifth streaming-engine gate entry (ST1, ST2, ST6, W2, W3)."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    ev = enrich_events(raw).select(
        "event_type", "ts", "event_id",
        (F.lit(1.0) + F.col("value") / F.lit(10000.0)).alias("mult"))
    out = stateful.apply_per_event_stream(
        ev, ["event_type"], ["ts", "event_id"],
        lambda: stateful.product_step(id_col="event_id"),
        "event_type string, event_id long, price_mult double",
        "acc double", stateful.pack1, stateful.unpack1)
    return _run_stream_to_table(spark, out, "st2_stream").select(
        "event_type", "event_id",
        round_portable(F.col("price_mult")).alias("price_mult"))


_MANIFEST_COMP_SQL = dd.sql_connected_components(
    "SELECT doc_id FROM documents",
    dd.sql_minhash_lsh_pairs("documents")
    .replace("SELECT id_a, id_b, est_jaccard FROM pairs",
             "SELECT id_a, id_b FROM pairs WHERE est_jaccard >= 0.5"))


@register("pipeline_dataset_manifest", expand_round6(f"""
WITH RECURSIVE
comp AS ({_MANIFEST_COMP_SQL}),
kept AS (SELECT doc_id FROM comp WHERE component = doc_id),
q AS ({tx.sql_quality_stats('documents')}),
sp AS ({tx.sql_train_val_split('documents')}),
ch AS (SELECT doc_id, count(*) AS n_chunks
       FROM ({tx.sql_chunk('documents')}) GROUP BY doc_id)
SELECT sp.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ch.n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
FROM kept k
JOIN q ON q.doc_id = k.doc_id
JOIN sp ON sp.doc_id = k.doc_id
JOIN ch ON ch.doc_id = k.doc_id
WHERE q.quality_score >= 0.3 AND q.n_tokens >= 50
GROUP BY 1
"""))
def pipeline_dataset_manifest(spark, sf_dir):
    """The full dataset build in one plan: near-dup keep-list ∩ quality
    gate, content-hash train/val assignment, overlap-chunk counts —
    aggregated into the per-split manifest (docs / chunks / token
    budget) a pretraining run consumes. Every stage is a previously
    gated operator; this entry proves the COMPOSITION keeps
    cross-engine parity end-to-end."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dd.minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= 0.5)
    comp = dd.connected_components(docs.select("doc_id"), pairs)
    kept = comp.filter(F.col("component") == F.col("doc_id")).select("doc_id")
    q = tx.quality_stats(docs)
    sp = tx.train_val_split(docs)
    ch = tx.chunk(docs).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"))
    return (
        kept.join(q, "doc_id").join(sp, "doc_id").join(ch, "doc_id")
        .filter((F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 50))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@register("events_value_rank_report", """
WITH _vr AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2)
SELECT event_type, user_id, cents,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       cume_dist() OVER w AS cdist
FROM _vr
WINDOW w AS (PARTITION BY event_type ORDER BY cents DESC, user_id ASC)
QUALIFY rank() OVER w <= 20
""")
def events_value_rank_report(spark, sf_dir):
    """Leaderboard report exercising the full ranking-window surface
    in one plan — rank, dense_rank, ntile(4), cume_dist over per-type
    user spend (exact cents), top-20 per type: the API-parity entry
    for the SQL window family the other frames (RANGE sums, lead/lag)
    don't touch. Ordering is totalized by (cents DESC, user_id ASC)
    so every rank function is deterministic; cume_dist is an exact
    rank/n division computed identically by both engines. One fact
    shuffle to (type, user) grain, one |users-per-type| window keyed
    by the 5-value type column — bounded like the w5 dashboards."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type", "user_id").agg(
        F.sum(_cents(F.col("value"))).alias("cents"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), F.col("user_id").asc())
    return (g.select(
        "event_type", "user_id", "cents",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.cume_dist().over(w).alias("cdist"))
        .filter(F.col("rnk") <= 20))


@register("events_markov_transitions", """
WITH _mk_seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
           ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events),
_mk_cnt AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM _mk_seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2),
_mk_tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
  FROM _mk_cnt GROUP BY 1)
SELECT c.from_type, c.to_type, c.n,
       CAST(c.n AS DOUBLE) / t.tot AS p
FROM _mk_cnt c JOIN _mk_tot t ON t.from_type = c.from_type
""")
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral model behind next-action prediction
    and funnel-dropoff diagnosis: P(next event type | current), from
    lead() over each user's (ts, event_id)-ordered stream. The
    sequence window keys on user_id (high cardinality — parallel at
    any scale, the same partitioning every per-user operator here
    uses); the count rollup is |types|² bounded, map-side combined.
    Counts are exact integers; the probability is one final float
    division per matrix cell."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id"))
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
    cnt = (seq.filter(F.col("to_type").isNotNull())
           .groupBy("from_type", "to_type")
           .agg(F.count(F.lit(1)).alias("n")))
    tot = cnt.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (cnt.join(tot, "from_type")
            .select("from_type", "to_type", "n",
                    (F.col("n").cast("double")
                     / F.col("tot").cast("double")).alias("p")))


@register("events_session_paths", """
WITH p AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         array_to_string(
           list_slice(list(event_type ORDER BY epoch_us(ts), event_id),
                      1, 8), '>') AS path
  FROM events
  GROUP BY user_id, CAST(ts AS DATE))
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path HAVING count(*) >= 2
""")
def events_session_paths(spark, sf_dir):
    """Funnel-path mining: per (user, day) session, the ordered
    event-type path (first 8 events, '>'-joined), then the paths that
    recur across >= 2 sessions — the behavioral-sequence report
    product analytics runs. Ordering is total and portable
    ((unix_micros, event_id) struct sort — the same tie-break every
    windowed entry uses), the per-session state is the session's own
    events (collect_list inside a session-keyed groupBy, no corpus
    window), the 8-event cap bounds path length BEFORE the path
    shuffle, and the HAVING >= 2 bounds the report to recurring
    behavior. Two shuffles: session grain, then path grain — both
    map-side-combined."""
    ev = load(spark, sf_dir, "events")
    paths = (
        ev.select("user_id", F.to_date("ts").alias("d"),
                  F.struct(F.unix_micros("ts").alias("_us"),
                           F.col("event_id").alias("_eid"),
                           F.col("event_type").alias("_t")).alias("_s"))
        .groupBy("user_id", "d")
        .agg(F.array_join(
            F.slice(F.transform(F.array_sort(F.collect_list("_s")),
                                lambda s: s["_t"]), 1, 8),
            ">").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= 2)
    )


@register("events_page_dwell", """
WITH g AS (
  SELECT event_type,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS dwell_us
  FROM events)
SELECT event_type,
       CAST(count(dwell_us) AS BIGINT) AS n_gaps,
       CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
       CAST(sum(dwell_us) AS DOUBLE) / count(dwell_us) AS avg_dwell_us
FROM g GROUP BY event_type
""")
def events_page_dwell(spark, sf_dir):
    """Dwell time per event type: the gap to each user's NEXT event
    (LEAD over the per-user timeline with the standard
    (unix_micros, event_id) total order), aggregated as exact integer
    microsecond sums — the engagement metric behind session-quality
    dashboards. Each user's last event has no successor and drops out
    of count and sum identically in both engines. The only full-data
    exchange is the user-keyed window shuffle (uniform keys); the
    type rollup is map-side-combined on five keys. avg is the single
    final float division of two exact integers."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id")
    g = ev.select(
        "event_type",
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
        .alias("dwell_us"))
    return (
        g.groupBy("event_type")
        .agg(F.count("dwell_us").alias("n_gaps"),
             F.sum("dwell_us").alias("total_dwell_us"),
             (F.sum("dwell_us").cast("double") / F.count("dwell_us"))
             .alias("avg_dwell_us"))
    )


@register("events_rolling_7d", """
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM events GROUP BY 1)
SELECT day_idx, n_events, rev_cents,
       CAST(sum(n_events) OVER (ORDER BY day_idx
                                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_events_7d,
       CAST(sum(rev_cents) OVER (ORDER BY day_idx
                                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rev_cents_7d
FROM d
""")
def events_rolling_7d(spark, sf_dir):
    """Rolling 7-day activity/revenue per day — the trailing-window
    dashboard metric — using a RANGE frame (6 PRECEDING on the
    integer day index), the frame shape ROWS frames can't express
    when days are MISSING: a gap day must age old days out of the
    window by VALUE distance, not row count. Exact integer cents and
    day indexes (epoch_us floor-div 86400e6) so the frame bounds and
    sums are bit-portable. Scale shape: the fact collapses to one row
    per day FIRST (map-side-combined groupBy); the window then runs
    over the tiny day table — the documented bounded-cardinality
    single-partition class, same as the qhist finalizer (partition by
    year for multi-century tables)."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select(F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                  .cast("long").alias("day_idx"),
                  _cents(F.col("value")).alias("_c"))
        .groupBy("day_idx")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("_c").alias("rev_cents"))
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, Window.currentRow)
    return d.select(
        "day_idx", "n_events", "rev_cents",
        F.sum("n_events").over(w).alias("n_events_7d"),
        F.sum("rev_cents").over(w).alias("rev_cents_7d"))


@register("events_trend_slope", """
WITH p AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) - 19723 AS x,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM p GROUP BY event_type)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope_cents_per_day
FROM m
""")
def events_trend_slope(spark, sf_dir):
    """Per-type OLS trend: the least-squares slope of value (cents)
    against day, computed ENTIRELY from integer moments —
    slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) — so numerator and
    denominator are exact BIGINTs (day offsets rebased to 0..29 keep
    n·Σxy ≤ ~1e15, far under 2^63) and the only float is the final
    division, reported alongside the exact integer pair for
    bit-stable comparisons downstream. This is the drift-detection
    aggregate a monitoring pipeline runs per segment; one
    map-side-combined shuffle on five keys, no window, no UDF."""
    ev = load(spark, sf_dir, "events")
    p = ev.select(
        "event_type",
        (F.floor(F.unix_micros("ts") / F.lit(86400000000.0)).cast("long")
         - F.lit(19723)).alias("x"),
        _cents(F.col("value")).alias("y"))
    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "event_type", "n",
        num.alias("slope_num"), den.alias("slope_den"),
        # single-day segments have zero x-variance: NULL slope, not an
        # ANSI divide-by-zero crash (found by the degenerate sweep)
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("slope_cents_per_day"))


@register("events_max_drawdown", f"""
WITH {EV_SQL}
SELECT trader,
       CAST(max(peak_cents - c) AS BIGINT) AS max_drawdown_cents,
       CAST(max(peak_cents) AS BIGINT) AS peak_cents
FROM (
  SELECT trader, c,
         max(c) OVER (PARTITION BY trader
                      ORDER BY t_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak_cents
  FROM (SELECT trader, epoch_us(ts) AS t_us, event_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM ev))
GROUP BY trader
""")
def events_max_drawdown(spark, sf_dir):
    """Maximum drawdown per trader — the path-dependent risk metric
    (largest peak-to-trough drop over the value series) that LOOKS
    like it needs an imperative scan but is two compositions of
    standard relational pieces: a running-max window over the
    portable (unix_micros, event_id) total order, then a grouped max
    of (peak − value). Exact integer cents throughout — drawdown is
    a difference of observed values, so no float ever forms. One
    trader-keyed window shuffle (uniform keys), map-side-combined
    final rollup; at 100 TB the same two-phase block trick the
    scalable prefix sum uses applies if a single key's history
    exceeds a task."""
    ev = events_enriched(spark, sf_dir)
    w = (Window.partitionBy("trader")
         .orderBy(F.unix_micros("ts"), "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = _cents(F.col("value"))
    staged = ev.select("trader", c.alias("c"),
                       F.max(c).over(w).alias("peak_cents"))
    return (
        staged.groupBy("trader")
        .agg(F.max(F.col("peak_cents") - F.col("c"))
             .alias("max_drawdown_cents"),
             F.max("peak_cents").alias("peak_cents"))
    )


@register("events_type_correlation", """
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         event_type,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.rev) AS BIGINT) AS sa,
         CAST(sum(b.rev) AS BIGINT) AS sb,
         CAST(sum(CAST(a.rev AS HUGEINT) * b.rev) AS HUGEINT) AS sab,
         CAST(sum(CAST(a.rev AS HUGEINT) * a.rev) AS HUGEINT) AS saa,
         CAST(sum(CAST(b.rev AS HUGEINT) * b.rev) AS HUGEINT) AS sbb
  FROM d a JOIN d b ON a.day_idx = b.day_idx
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n,
       CASE WHEN n * saa - CAST(sa AS HUGEINT) * sa = 0
              OR n * sbb - CAST(sb AS HUGEINT) * sb = 0 THEN NULL
            ELSE CAST(n * sab - CAST(sa AS HUGEINT) * sb AS DOUBLE)
                 / sqrt(CAST(n * saa - CAST(sa AS HUGEINT) * sa AS DOUBLE))
                 / sqrt(CAST(n * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE))
       END AS pearson_r
FROM pairs
""")
def events_type_correlation(spark, sf_dir):
    """Pairwise Pearson correlation of DAILY revenue series between
    event types — the co-movement matrix a monitoring pipeline uses
    to spot coupled segments. The fact collapses to (day, type)
    revenue first (one map-side-combined shuffle); the pair frame is
    a day-keyed self-join of that tiny series table (30×5 rows — at
    100 TB still |days|×|types|, never the fact); covariance and
    variances come from EXACT integer moments (Spark decimal(38) /
    DuckDB HUGEINT — daily sums reach ~2e7 cents, squares ~4e14,
    ×days ~1e16: exact), with floats only in the final
    divide-and-sqrt, the identical three IEEE ops in both engines
    (sqrt is correctly rounded — the temperature-mix argument)."""
    ev = load(spark, sf_dir, "events")
    d = (ev.select(F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                   .cast("long").alias("day_idx"),
                   "event_type", _cents(F.col("value")).alias("_c"))
         .groupBy("day_idx", "event_type")
         .agg(F.sum("_c").alias("rev")))
    a = d.select(F.col("day_idx").alias("_d"),
                 F.col("event_type").alias("type_a"),
                 F.col("rev").alias("_ra"))
    b = d.select(F.col("day_idx").alias("_d2"),
                 F.col("event_type").alias("type_b"),
                 F.col("rev").alias("_rb"))
    dec = lambda col: col.cast("decimal(38,0)")
    pairs = (
        a.join(b, (F.col("_d") == F.col("_d2"))
               & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("_ra").alias("sa"), F.sum("_rb").alias("sb"),
             F.sum(dec(F.col("_ra")) * dec(F.col("_rb"))).alias("sab"),
             F.sum(dec(F.col("_ra")) * dec(F.col("_ra"))).alias("saa"),
             F.sum(dec(F.col("_rb")) * dec(F.col("_rb"))).alias("sbb"))
    )
    nD = dec(F.col("n"))
    cov = nD * F.col("sab") - dec(F.col("sa")) * dec(F.col("sb"))
    va = nD * F.col("saa") - dec(F.col("sa")) * dec(F.col("sa"))
    vb = nD * F.col("sbb") - dec(F.col("sb")) * dec(F.col("sb"))
    return pairs.select(
        "type_a", "type_b", "n",
        # a zero-variance series (single shared day, constant revenue)
        # has no defined correlation: NULL, not an ANSI div-by-zero
        F.when((va == 0) | (vb == 0), F.lit(None).cast("double"))
        .otherwise(cov.cast("double")
                   / F.sqrt(va.cast("double")) / F.sqrt(vb.cast("double")))
        .alias("pearson_r"))


@register("events_decayed_engagement", """
WITH mx AS (
  SELECT CAST(max(epoch_us(ts)) // 86400000000 AS BIGINT) AS last_d
  FROM events),
terms AS (
  -- decay exponent capped at 40 (terms underflow to 0 micros long
  -- before 2^-40); the shifted 1 must be BIGINT: DuckDB types a bare
  -- literal 1 as 32-bit INTEGER, so `1 << k` raises Out of Range at
  -- k >= 31 — i.e. any corpus spanning >= 31 weeks — while
  -- CAST(1 AS BIGINT) << 40 is fine (verified on DuckDB 1.x)
  SELECT user_id,
         CAST(floor(
           CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE)
           / CAST(CAST(1 AS BIGINT) << CAST(least(((SELECT last_d FROM mx)
               - epoch_us(ts) // 86400000000) // 7, 40) AS INTEGER)
             AS DOUBLE)
           * 10000.0 + 0.5) AS BIGINT) AS term_micro
  FROM events WHERE value IS NOT NULL),
scores AS (
  SELECT user_id, CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM terms GROUP BY user_id)
SELECT user_id, score_micro, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC,
                                   user_id ASC) AS rank
      FROM scores)
WHERE rank <= 20
""")
def events_decayed_engagement(spark, sf_dir):
    """Time-decayed engagement score — the half-life-weighted sum
    behind every recency-aware LTV / churn-risk leaderboard: each
    event contributes value * 2^-(weeks since the corpus's last day),
    top 20 users. The portability trick is choosing the EXACT
    arithmetic: the decay exponent is an INTEGER week count, so the
    factor 2^-k is a pure exponent-field double (exact), the cents
    value divided by it is exact, and each term quantizes to integer
    micros before the sum — no transcendental (pow/exp is not
    correctly-rounded across libms, so a float half-life would flip
    floor boundaries between engines) and no float accumulation.
    Shape: one map-side term expression over the fact scan, one
    partial-aggregated groupBy(user), top-k over the user-grain
    table; the last-day scalar broadcasts."""
    # day index via the floor spelling (matches the oracle's // on
    # pre-1970 negative micros, where `div` truncates toward zero);
    # the (last_d - _d) difference is non-negative, so its `div 7`
    # floors identically on both engines
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "value",
                  F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                  .cast("long").alias("_d")))
    mx = ev.agg(F.max("_d").alias("_last_d"))
    # capped at 40 to mirror the oracle's shift-safety guard (terms are
    # 0 micros long before 2^-40, so the cap never changes a value)
    k = F.expr("CAST(least((_last_d - _d) div 7, 40) AS INT)")
    term = F.floor(
        _cents(F.col("value")).cast("double")
        / F.pow(F.lit(2.0), k.cast("double"))
        * F.lit(10000.0) + F.lit(0.5)).cast("long")
    scores = (ev.crossJoin(F.broadcast(mx))
              .select("user_id", term.alias("_tm"))
              .groupBy("user_id")
              .agg(F.sum("_tm").alias("score_micro")))
    return (_topk_ranked(scores, [F.col("score_micro").desc(),
                                  F.col("user_id").asc()], 20)
            .select("user_id", "score_micro",
                    F.col("rank").cast("int").alias("rank")))


_PAGERANK_ITERS = 2


def _sql_pagerank(iters: int = _PAGERANK_ITERS) -> str:
    parts = ["""_pr_e0 AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
_pr_edges AS (
  SELECT src, dst FROM _pr_e0
  UNION ALL SELECT dst AS src, src AS dst FROM _pr_e0),
_pr_deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM _pr_edges GROUP BY src),
_pr_r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM _pr_deg)"""]
    for it in range(1, iters + 1):
        prev = f"_pr_r{it - 1}"
        parts.append(f"""_pr_r{it} AS (
  SELECT d.node,
         CAST(150000 + (85 * coalesce(m.s, 0)) // 100 AS BIGINT) AS r
  FROM _pr_deg d LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.r // g.deg) AS BIGINT) AS s
    FROM _pr_edges e
    JOIN {prev} p ON p.node = e.src
    JOIN _pr_deg g ON g.node = e.src
    GROUP BY e.dst) m ON m.node = d.node)""")
    return ",\n".join(parts)


@register("graph_pagerank_trading", f"""
WITH {_sql_pagerank()}
SELECT node, r AS rank_micro, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY r DESC, node ASC) AS rn
      FROM _pr_r{_PAGERANK_ITERS})
WHERE rn <= 20
""")
def graph_pagerank_trading(spark, sf_dir):
    """PageRank (Page, Brin, Motwani, Winograd 1999) over the TPC-H
    customer-supplier trading graph (undirected: distinct
    who-bought-from-whom edges doubled, so no dangling mass), fixed
    {2} iterations, top 20 nodes — the iterative-graph-ranking family
    alongside connected components. Engine-exact by INTEGER
    arithmetic end to end: ranks live in integer micros, each node's
    contribution is rank div degree (identical integer division both
    engines; the dropped remainder is part of the algorithm's
    definition here, not error), damping is x85 div 100, and the
    neighbor sum is an exact int64 — no float ever, so 1000 executors
    reduce in any order bit-identically, the same rule as every money
    sum in the repo. Scale shape per iteration: one equi-join of the
    edge table against the (node, rank) table (both partitioned by
    node key), one partial-aggregated groupBy(dst) — the classic
    distributed PageRank step; the degree table is computed once.
    Iteration count is the only sequential dimension (kmeans/CC
    pattern)."""
    from ..operators import cache
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                  F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
          .distinct())
    # persist the edge table: consumed by deg + every iteration's
    # contribution join — without it each iteration re-runs the
    # lineitem⋈orders distinct (persist_audit: Union subtree x4)
    edges = cache.maybe_persist(e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("node", F.lit(1000000).cast("long").alias("r"))
    for _ in range(_PAGERANK_ITERS):
        contrib = (edges
                   .join(ranks.withColumnRenamed("node", "_sn"),
                         F.col("src") == F.col("_sn"))
                   .join(deg.withColumnRenamed("node", "_dn")
                         .withColumnRenamed("deg", "_sd"),
                         F.col("src") == F.col("_dn"))
                   .select(F.col("dst").alias("node"),
                           F.expr("r div _sd").alias("_c"))
                   .groupBy("node").agg(F.sum("_c").alias("_s")))
        ranks = (deg.join(contrib, "node", "left")
                 .select("node",
                         (F.lit(150000)
                          + F.expr("div(85 * coalesce(_s, 0), 100)"))
                         .cast("long").alias("r")))
    return (_topk_ranked(ranks, [F.col("r").desc(), F.col("node").asc()],
                         20, "rn")
            .select("node", F.col("r").alias("rank_micro"),
                    F.col("rn").cast("int").alias("rank")))


@register("streaming_decayed_engagement",
          ORACLES["events_decayed_engagement"])
def streaming_decayed_engagement(spark, sf_dir):
    """The decayed-engagement leaderboard maintained ON THE LIVE
    STREAMING RUNTIME — the per-user micro-quantized decay terms are
    an incremental integer sum (one int64 of state per user) emitted
    in UPDATE mode: each micro-batch ships only the users it touched
    (complete mode — round 9's choice — re-emits the FULL per-user
    aggregate every batch, which is harness-fine but wrong at
    production user cardinality). The batch finalize keeps each
    user's last emission (per-user window over the batch id) and
    ranks via the TakeOrdered top-k; checked against the SAME oracle
    as the batch twin.
    The reference day (the corpus's last day) is a scalar batch
    aggregate probed up front — the anchor-probe pattern every
    streaming twin with a corpus-relative constant uses, not a data
    collect. Exactness story identical to the batch twin: integer
    week exponents, power-of-two decay, int64 term sums."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # floor spelling like the batch twin (pre-1970 `div` truncation)
    last_d = load(spark, sf_dir, "events").agg(
        F.max(F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
              .cast("long"))
        .alias("_ld")).collect()[0][0]
    raw = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    k = F.expr(f"CAST(least(({last_d} - CAST(floor(unix_micros(ts)"
               " / 86400000000.0) AS BIGINT)) div 7, 40) AS INT)")
    term = F.floor(
        _cents(F.col("value")).cast("double")
        / F.pow(F.lit(2.0), k.cast("double"))
        * F.lit(10000.0) + F.lit(0.5)).cast("long")
    agg = (raw.select("user_id", term.alias("_tm"))
           .groupBy("user_id").agg(F.sum("_tm").alias("score_micro")))
    sunk = _run_stream_update_latest(spark, agg, "decay_stream",
                                     ["user_id"])
    return (_topk_ranked(sunk, [F.col("score_micro").desc(),
                                F.col("user_id").asc()], 20, "rn")
            .select("user_id", "score_micro",
                    F.col("rn").cast("int").alias("rank")))


@register("graph_degree_stats", f"""
WITH {_sql_pagerank(iters=0)}
SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS degree_log2,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_degree,
       CAST(max(deg) AS BIGINT) AS max_degree,
       CAST(sum(deg) AS BIGINT) AS sum_degree
FROM _pr_deg
GROUP BY 1
""")
def graph_degree_stats(spark, sf_dir):
    """Degree distribution of the trading graph as a log2 histogram —
    the first diagnostic any graph job publishes before choosing a
    partitioning strategy: the top bucket's max_degree is the hub
    that decides whether plain node-hash partitioning survives or
    the computation needs vertex-cut/salting (the same skew question
    join_salted_skew answers for joins). Exact integer bucketing via
    bit-length (the length_log2_histogram pattern), one shuffle to
    the node grain, one to the ~30-bucket histogram grain."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                  F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
          .distinct())
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    return (deg.groupBy((F.length(F.bin("deg")) - 1).cast("long")
                        .alias("degree_log2"))
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.min("deg").alias("min_degree"),
                 F.max("deg").alias("max_degree"),
                 F.sum("deg").alias("sum_degree")))


_LPA_ITERS = 3


def _sql_lpa(iters: int = _LPA_ITERS) -> str:
    parts = [_sql_pagerank(iters=0),
             "_lpa_l0 AS (SELECT node, node AS lbl FROM _pr_deg)"]
    for it in range(1, iters + 1):
        prev = f"_lpa_l{it - 1}"
        parts.append(f"""_lpa_v{it} AS (
  SELECT node, lbl, CAST(sum(c) AS BIGINT) AS cnt FROM (
    SELECT e.dst AS node, p.lbl, CAST(count(*) AS BIGINT) AS c
    FROM _pr_edges e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst, p.lbl
    UNION ALL SELECT node, lbl, CAST(1 AS BIGINT) FROM {prev})
  GROUP BY node, lbl),
_lpa_l{it} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
    FROM _lpa_v{it}) WHERE rn = 1)""")
    return ",\n".join(parts)


@register("graph_label_propagation", f"""
WITH {_sql_lpa()},
_lpa_sizes AS (
  SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
  FROM _lpa_l{_LPA_ITERS} GROUP BY lbl)
SELECT community, n_members, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY n_members DESC,
                                   community ASC) AS rn
      FROM _lpa_sizes)
WHERE rn <= 20
""")
def graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (Raghavan,
    Albert, Kumara 2007) over the customer-supplier trading graph —
    the clustering member of the graph family next to PageRank
    (ranking), connected components (reachability), and triangles
    (cohesion). Each of the {_LPA_ITERS} fixed iterations every node
    adopts the most frequent label among its neighbors plus itself
    (the self-vote damps the bipartite-graph oscillation the
    synchronous variant is known for), ties broken by SMALLEST label
    — with fixed iteration count and total tie order the algorithm is
    fully deterministic, so the DuckDB twin replays it exactly.
    Output: the 20 largest communities.

    Scale shape per iteration: one equi-join of the edge table
    against the (node, label) table — both sides hash-partitioned on
    the join key, the same key every iteration, so a real cluster
    co-locates them after the first shuffle — then a
    PARTIAL-AGGREGATED groupBy(node, label) vote count (a hub's
    million identical votes combine map-side before they travel) and
    a min_by argmax per node (no sort, no window over data). Label
    payloads are node ids, never grow, and the vote table is bounded
    by the edge count. Iteration count is the only sequential
    dimension (the kmeans/CC/PageRank pattern). Finisher is the
    TakeOrdered top-k, never a global sort. Integer counts end to
    end; string labels compare bytewise identically in both
    engines."""
    from ..operators import cache
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                  F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
          .distinct())
    # persist the edge table: every LPA iteration's vote join consumes
    # it — unpersisted, each re-ran the lineitem⋈orders distinct
    # (persist_audit: Aggregate subtree size=64 x3)
    edges = cache.maybe_persist(e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))
    labels = gr.lpa_labels(edges, _LPA_ITERS)
    return _lpa_top_communities(labels)


def _lpa_top_communities(labels: DataFrame) -> DataFrame:
    """Shared LPA finisher (batch + streaming twins — the twins-share-
    finisher rule): community sizes, top-20 via TakeOrdered."""
    sizes = labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"))
    return (_topk_ranked(sizes, [F.col("n_members").desc(),
                                 F.col("community").asc()], 20, "rn")
            .select("community", "n_members",
                    F.col("rn").cast("int").alias("rank")))


@register("graph_triangles_copurchase", expand_round6("""
WITH pt AS (SELECT p_partkey AS pk FROM part WHERE p_size <= 15),
li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
       FROM lineitem l JOIN pt ON pt.pk = l.l_partkey),
e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n),
ed AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
                 AS src,
              CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
                 AS dst,
              CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
                 AS dd
       FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
w AS (SELECT x.dst AS src, y.dst AS dst
      FROM ed x JOIN ed y ON x.src = y.src
      WHERE (x.dd, x.dst) < (y.dd, y.dst)),
tri AS (SELECT CAST(count(*) AS BIGINT) AS t
        FROM w JOIN ed ON ed.src = w.src AND ed.dst = w.dst),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
        FROM deg),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT tot.n_nodes, ne.n_edges, tot.n_wedges, tri.t AS n_triangles,
       ROUND6(CAST(3 * tri.t AS DOUBLE) / nullif(tot.n_wedges, 0))
         AS clustering_coeff
FROM tot, ne, tri
"""))
def graph_triangles_copurchase(spark, sf_dir):
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts linked when one order contains both;
    p_size <= 15 selects the catalog segment), via DEGREE-ORDERED edge
    orientation (Schank & Wagner 2005; the MapReduce formulation is
    Suri & Vassilvitskii 2011): orient every edge from its
    lower-(degree, id) endpoint, enumerate wedges only at each edge's
    SOURCE, and close them with one equi-join back to the oriented
    edge set. Every triangle has exactly one vertex that is the
    orientation-minimum of its two incident edges, so each is counted
    once — no post-hoc /3, no duplicate elimination.

    Why this is THE scale shape for triangles: wedge generation at a
    node costs out-degree², and orientation bounds every out-degree by
    O(sqrt(m)) REGARDLESS of the raw degree distribution — a celebrity
    hub with a million neighbors contributes million² wedges to the
    naive enumeration but only O(m) after orientation (its million
    low-degree neighbors each orient TOWARD the hub and enumerate
    nothing across it). Total work is O(m^1.5), the arboricity bound,
    with no hot-key cap needed — the orientation IS the skew defense.
    Edge construction is per-order blocking with a bounded block
    (TPC-H orders hold <= 7 lines); the closing join is a plain
    (src, dst) equi-join that shuffles, never broadcasts, at real
    scale. All counts exact integers; only the final clustering ratio
    (3*triangles / wedges) divides, ROUND6-portable. Degree lookups
    join un-hinted so AQE broadcasts them locally while a 1000-executor
    plan keeps them as shuffle equi-joins (deg is O(nodes) — never a
    literal/broadcast model)."""
    pt = (load(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
          .select(F.col("p_partkey").alias("pk")))
    li = (load(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
          .join(pt, "pk").select("ok", "pk").distinct())
    from ..operators import cache
    # persist the undirected edge set: building `ed` executes e's
    # lineage three times (the edge scan + both arms of the degree
    # union) even with ed itself cached — e IS the corpus-scale li⋈li
    # distinct, so pay it once (persist_audit: Join size=19 x3)
    e = cache.maybe_persist(
        li.alias("a").join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct(), force=True)
    deg = (e.select(F.col("u").alias("n"))
           .unionByName(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    lo = (F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
          < F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
    # persist the oriented edge table: consumed THREE times (both arms
    # of the wedge self-join + the closing join) — without it each
    # consumer re-runs the full li⋈li distinct + two degree joins
    # (persist_audit: Join subtree size=112 x3)
    ed = cache.maybe_persist(
        e.join(deg.select(F.col("n").alias("u"),
                          F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"),
                         F.col("d").alias("dv")), "v")
        .select(F.when(lo, F.col("u")).otherwise(F.col("v")).alias("src"),
                F.when(lo, F.col("v")).otherwise(F.col("u")).alias("dst"),
                F.when(lo, F.col("dv")).otherwise(F.col("du")).alias("dd")))
    w = (ed.select("src", F.col("dst").alias("_a"), F.col("dd").alias("_da"))
         .join(ed.select("src", F.col("dst").alias("_b"),
                         F.col("dd").alias("_db")), "src")
         .filter(F.struct(F.col("_da"), F.col("_a"))
                 < F.struct(F.col("_db"), F.col("_b")))
         .select(F.col("_a").alias("src"), F.col("_b").alias("dst")))
    tri = (w.join(ed.select("src", "dst"), ["src", "dst"])
           .agg(F.count(F.lit(1)).alias("t")))
    tot = deg.agg(F.count(F.lit(1)).alias("n_nodes"),
                  F.expr("sum(d * (d - 1)) div 2").alias("n_wedges"))
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (tot.crossJoin(ne).crossJoin(tri)
            .select("n_nodes", "n_edges", "n_wedges",
                    F.col("t").alias("n_triangles"),
                    round_portable(
                        F.lit(3.0) * F.col("t").cast("double")
                        / F.expr("nullif(n_wedges, 0)").cast("double"))
                    .alias("clustering_coeff")))


# Adamic-Adar hot-node cap: a common neighbor of degree d generates
# d*(d-1)/2 candidate pairs, so unbounded hubs are the quadratic
# blow-up (the wedge skew orientation fixes for COUNTING can't help
# here — AA needs every common-neighbor pair enumerated). Hubs carry
# the least AA weight anyway (1/ln d), so capping them is the standard
# defense — the max_df analog for graphs. 48 binds on the sf corpus
# (max degree 56 at sf0.01), so the cap path is exercised, not
# decorative.
_AA_MAX_DEG = 48

_AA_SQL = """
WITH pt AS (SELECT p_partkey AS pk FROM part WHERE p_size <= 15),
li AS (SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
       FROM lineitem l JOIN pt ON pt.pk = l.l_partkey),
e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
adj AS (SELECT u AS z, v AS n FROM e
        UNION ALL SELECT v AS z, u AS n FROM e),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY z),
wz AS (SELECT z, CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5)
                      AS BIGINT) AS w
       FROM deg WHERE d >= 2 AND d <= {cap}),
adjc AS (SELECT a.z, a.n, w.w FROM adj a JOIN wz w ON w.z = a.z),
cand AS (
  SELECT a.n AS pa, b.n AS pb, CAST(sum(a.w) AS BIGINT) AS score_micros,
         CAST(count(*) AS BIGINT) AS n_common
  FROM adjc a JOIN adjc b ON b.z = a.z AND a.n < b.n
  GROUP BY 1, 2),
nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN e ON e.u = c.pa AND e.v = c.pb
  WHERE e.u IS NULL)
SELECT pa, pb, score_micros, n_common,
       CAST(row_number() OVER (ORDER BY score_micros DESC, pa, pb)
            AS INTEGER) AS rank
FROM nonedge
ORDER BY score_micros DESC, pa, pb LIMIT 20
""".format(cap=_AA_MAX_DEG)


@register("graph_adamic_adar", _AA_SQL)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (Adamic & Adar, "Friends and
    neighbors on the Web", 2003) over the part co-purchase graph: the
    top-20 NOT-yet-connected part pairs most likely to be co-purchased
    next, scored sum(1/ln(deg(z))) over common neighbors z — the
    classic recommender/graph-completion primitive next to the
    counting entries (triangles) and ranking entries (PageRank).

    Exactness: the per-neighbor weight is quantized to integer micros
    BEFORE summation, so the score is shuffle-order independent and
    cross-engine exact; ranking ties break on the pair ids. Scale
    shape: candidate pairs enumerate per common neighbor via a
    self-equi-join on z — quadratic in z's degree, which is exactly
    why the ``_AA_MAX_DEG`` hot-node cap exists (see its comment; it
    BINDS at the test SFs). Crucially the cap joins in BEFORE the
    quadratic self-join (adjc = adj ⋈ wz, then adjc ⋈ adjc): Catalyst
    does not reorder a cap written after the fan-out, so the pre-join
    spelling is what physically stops a mega-hub from materializing
    d²/2 candidate rows. The edge set is persisted once (consumed by
    both adjacency arms and the anti-join). The existing-edge
    anti-join and the final top-20 ride the usual bounded finishers
    (left-anti equi-join, TakeOrdered + constant-k rank)."""
    from ..operators import cache
    pt = (load(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
          .select(F.col("p_partkey").alias("pk")))
    li = (load(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
          .join(pt, "pk").select("ok", "pk").distinct())
    e = cache.maybe_persist(
        li.alias("a").join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct(), force=True)
    adj = (e.select(F.col("u").alias("z"), F.col("v").alias("n"))
           .unionByName(e.select(F.col("v").alias("z"),
                                 F.col("u").alias("n"))))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    wz = (deg.filter((F.col("d") >= 2) & (F.col("d") <= _AA_MAX_DEG))
          .select("z", F.floor(F.lit(1000000.0)
                               / F.log(F.col("d").cast("double"))
                               + F.lit(0.5)).cast("long").alias("w")))
    # force=True on both persists (r17): the size gate read small
    # Catalyst estimates and skipped them, re-running the co-purchase
    # ancestry per consumer — measured 3.9-4.9 s default vs a stable
    # 2.8 s forced at sf0.1; at scale the recompute is strictly worse.
    # cap binds here, BEFORE the fan-out; persisted because BOTH arms
    # of the quadratic self-join consume it — unpersisted, the
    # adj -> deg -> wz chain executes twice (x2 repeats sit under the
    # persist_audit >=3 threshold, but this is the entry's whole cost)
    adjc = cache.maybe_persist(adj.join(wz, "z"), force=True)
    cand = (adjc.select(F.col("z"), F.col("n").alias("pa"), F.col("w"))
            .join(adjc.select(F.col("z"), F.col("n").alias("pb")), "z")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.sum("w").cast("long").alias("score_micros"),
                 F.count(F.lit(1)).cast("long").alias("n_common")))
    nonedge = cand.join(
        e, (e["u"] == cand["pa"]) & (e["v"] == cand["pb"]), "left_anti")
    return _topk_ranked(
        nonedge,
        [F.col("score_micros").desc(), F.col("pa").asc(),
         F.col("pb").asc()],
        20, "rank")


@register("events_streaks", """
WITH du AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
  FROM events),
isl AS (
  SELECT user_id,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d)
           AS island
  FROM du),
st AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS streak_len
  FROM isl GROUP BY user_id, island)
SELECT user_id,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(sum(streak_len) AS BIGINT) AS active_days
FROM st GROUP BY user_id
""")
def events_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands batch shape (day − row_number is constant within
    a consecutive run, so the difference IS the island id) every
    engagement/retention dashboard ships. The distributed story: the
    fact collapses to the DISTINCT (user, day) grain first (one
    map-side-combined shuffle — the same bounded intermediate
    events_dau_wau persists), and the row_number window partitions BY
    USER, so no single task ever sees more than one user's ~bounded
    day list — a per-key window over the deduped grain, never a
    global sort. Everything stays exact integers (day indexes via
    unix_micros div, counts via int64)."""
    ev = load(spark, sf_dir, "events")
    du = (ev.select("user_id",
                    F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                    .cast("long").alias("d"))
          .distinct())
    isl = du.select(
        "user_id", "d",
        (F.col("d") - F.row_number().over(
            Window.partitionBy("user_id").orderBy("d"))).alias("island"))
    st = (isl.groupBy("user_id", "island")
          .agg(F.count(F.lit(1)).alias("streak_len")))
    return (st.groupBy("user_id")
            .agg(F.max("streak_len").alias("longest_streak"),
                 F.count(F.lit(1)).alias("n_streaks"),
                 F.sum("streak_len").alias("active_days")))


@register("events_dau_wau", """
WITH du AS (
  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
         user_id
  FROM events),
days AS (SELECT DISTINCT d FROM du),
dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d),
wau AS (
  SELECT w.d, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days w JOIN du u ON u.d BETWEEN w.d - 6 AND w.d
  GROUP BY w.d)
SELECT a.d AS day_idx, a.dau, b.wau,
       CAST(a.dau AS DOUBLE) / b.wau AS stickiness
FROM dau a JOIN wau b ON b.d = a.d
""")
def events_dau_wau(spark, sf_dir):
    """DAU / WAU / stickiness per day — EXACT windowed distinct
    counts, the engagement triple a RANGE frame cannot express
    (frames can sum but not count-distinct across a window). The
    correct distributed shape: dedupe to (day, user) grain FIRST
    (one fact shuffle, map-side combined), then the 7-day window is
    a bounded self-join of the TINY day list against the deduped
    day-user table (×7 replication of the deduped grain, never the
    fact) with a count-distinct per window day. Stickiness DAU/WAU
    is the one final float division of exact counts. At 100 TB the
    deduped (day,user) table is the right intermediate to persist —
    every engagement metric derives from it."""
    ev = load(spark, sf_dir, "events")
    du = (ev.select(F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                    .cast("long").alias("d"), "user_id")
          .distinct())
    days = du.select("d").distinct().withColumnRenamed("d", "_wd")
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        days.join(du, (F.col("d") >= F.col("_wd") - 6)
                  & (F.col("d") <= F.col("_wd")))
        .groupBy("_wd")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau._wd)
        .select(F.col("d").alias("day_idx"), "dau", "wau",
                (F.col("dau").cast("double") / F.col("wau").cast("double"))
                .alias("stickiness"))
    )


@register("events_concurrency", """
WITH _cc_spans AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx, user_id,
         min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
  FROM events GROUP BY 1, 2),
_cc_pts AS (
  SELECT day_idx, s AS t_us, 1 AS delta FROM _cc_spans
  UNION ALL
  SELECT day_idx, e AS t_us, -1 AS delta FROM _cc_spans),
_cc_run AS (
  SELECT day_idx,
         sum(delta) OVER (PARTITION BY day_idx ORDER BY t_us, -delta
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM _cc_pts)
SELECT day_idx, CAST(max(conc) AS BIGINT) AS max_concurrent,
       CAST(count(*) // 2 AS BIGINT) AS n_spans
FROM _cc_run GROUP BY day_idx
""")
def events_concurrency(spark, sf_dir):
    """Peak concurrent users per day — the classic sweep-line
    capacity metric (how many sessions overlap at the worst moment,
    what a serving fleet must be sized for). Each user's daily active
    span [min ts, max ts] emits +1/-1 boundary points; peak = max of
    the running sum with starts ordered before ends at the same
    microsecond (touching spans count as concurrent). The prefix sum
    rides running_sum_scalable (windows.py) — per-day two-phase
    blocks, so a hot day never funnels into one partition the way a
    plain per-day window would at 100 TB. The per-day MAX is
    invariant to tie order among equal (t_us, delta) rows (prefix
    values within a same-delta run form the same multiset under any
    permutation), so the result is deterministic and oracle-exact
    despite the unordered shuffle."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    spans = (ev.groupBy(
        F.floor(us / F.lit(86400000000.0)).cast("long").alias("day_idx"),
        "user_id")
        .agg(F.min(us).alias("s"), F.max(us).alias("e")))
    pts = (spans.select("day_idx", F.col("s").alias("t_us"),
                        F.lit(1).alias("delta"))
           .unionByName(spans.select("day_idx", F.col("e").alias("t_us"),
                                     F.lit(-1).alias("delta")))
           .withColumn("_nd", -F.col("delta")))
    run = windows.running_sum_scalable(pts, ["day_idx"], ["t_us", "_nd"],
                                  "delta", out="conc")
    return (run.groupBy("day_idx")
            .agg(F.max("conc").cast("long").alias("max_concurrent"),
                 F.floor(F.count(F.lit(1)) / 2).cast("long")
                 .alias("n_spans")))


@register("events_funnel", f"""
WITH {EV_SQL},
s AS (SELECT user_id, min(epoch_us(ts)) AS t_s FROM ev
      WHERE event_type = 'signup' GROUP BY user_id),
c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_c
      FROM ev e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.t_s
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_p
      FROM ev e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_c
      GROUP BY e.user_id)
SELECT * FROM (
  SELECT 1 AS step, 'signup' AS name,
         CAST((SELECT count(*) FROM s) AS BIGINT) AS n_users
  UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
  UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT))
""")
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel over the events stream: users who
    signed up, then clicked strictly after, then purchased strictly
    after that — one row per funnel step. Each stage is a conditional
    min-aggregate plus an equi-join on user_id (uniform key, partial
    aggs map-side); microsecond ordering for the same reason as the
    window queries."""
    ev = events_enriched(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us"))

    def stage(prev, etype):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("t_us").alias("_t"))
        return (
            e.join(prev.withColumnRenamed("_t", "_pt"), "user_id")
            .filter(F.col("t_us") > F.col("_pt"))
            .groupBy("user_id").agg(F.min("t_us").alias("_t"))
        )

    s = stage(None, "signup")
    c = stage(s, "click")
    p = stage(c, "purchase")
    rows = [(1, "signup", s), (2, "click", c), (3, "purchase", p)]
    out = None
    for step, nm, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(nm).alias("name"), "n_users")
        out = one if out is None else out.unionByName(one)
    return out


# CEP pattern window: full signup->click->purchase match must span
# <= 24h (sf0.01 data: 125 matches across 77 users with ~1.9k
# out-of-window purchases, so both the match and reject paths carry
# load)
_CEP_W_US = 86_400_000_000

# The fold's state list: [s_last, c_s, start1, end1, start2, end2, ...]
# with -1 sentinels — the same two-monotone-timestamp automaton as
# stateful.cep_step (see its docstring for why this is faithful to
# Flink's followedBy().within(W) + skipPastLastEvent while a
# single-anchor automaton is not).
_CEP_SQL = f"""
WITH {EV_SQL},
e2 AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 END AS ty
  FROM ev
  WHERE event_type IN ('signup', 'click', 'purchase')),
folded AS (
  SELECT user_id,
         list_reduce(
           list_prepend([CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)],
                        list([t, CAST(ty AS BIGINT)]
                             ORDER BY t, event_id)),
           (acc, e) -> CASE
             WHEN e[2] = 1
               THEN list_concat([e[1], acc[2]], acc[3:])
             WHEN e[2] = 2
               THEN list_concat(
                      [acc[1],
                       CASE WHEN acc[1] >= 0 THEN acc[1]
                            ELSE acc[2] END],
                      acc[3:])
             WHEN e[2] = 3 AND acc[2] >= 0
                  AND e[1] - acc[2] <= {_CEP_W_US}
               THEN list_concat([CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)],
                                list_concat(acc[3:], [acc[2], e[1]]))
             ELSE acc
           END) AS st
  FROM e2 GROUP BY user_id),
m AS (SELECT user_id, st[3:] AS pairs FROM folded)
SELECT user_id,
       CAST(unnest(generate_series(1, len(pairs) // 2)) AS INTEGER)
         AS match_n,
       unnest(list_transform(generate_series(1, len(pairs) // 2),
                             i -> pairs[CAST(2 * i - 1 AS INTEGER)]))
         AS start_us,
       unnest(list_transform(generate_series(1, len(pairs) // 2),
                             i -> pairs[CAST(2 * i AS INTEGER)]))
         AS end_us
FROM m
"""


def _cep_input(ev: DataFrame) -> DataFrame:
    """Shared CEP input projection for the batch/streaming twins: the
    three pattern event types (the filter reaches the scan — irrelevant
    types never shuffle; dropping them is semantics-preserving because
    a skipped event's only effect, the expiry reset, happens identically
    at the next relevant event), encoded 1/2/3, with the microsecond
    ordering key."""
    return (ev.filter(F.col("event_type")
                      .isin("signup", "click", "purchase"))
            .select("user_id", F.unix_micros("ts").alias("t_us"),
                    "event_id",
                    F.when(F.col("event_type") == "signup", 1)
                    .when(F.col("event_type") == "click", 2)
                    .otherwise(3).alias("ty")))


@register("events_cep_pattern", _CEP_SQL)
def events_cep_pattern(spark, sf_dir):
    """Flink-CEP sequence-pattern matching as a keyed per-event fold
    (the capability Flink ships as the CEP library — Pattern
    .begin('signup').followedBy('click').followedBy('purchase')
    .within(Time.hours(24)) with skipPastLastEvent): one row per
    completed non-overlapping match, (user_id, match_n, start_us,
    end_us), earliest-ending match first, deterministic over
    (ts, event_id) order. Faithful NFA semantics (a fresher signup
    seen mid-partial can anchor the match) with CONSTANT per-key
    state — two monotone timestamps; see stateful.cep_step.

    100 TB shape: ONE shuffle keyed by user_id after a scan-level
    filter to the three pattern types; per-key state is three
    integers, per-key work is linear in that user's events — the same
    bounded profile as the ST6 ledger. The DuckDB twin folds the
    identical automaton with list_reduce, so every transition
    (including all ~1.9k out-of-window rejects) is pinned
    cross-engine."""
    from ..streaming import stateful

    d = _cep_input(load(spark, sf_dir, "events"))
    return stateful.apply_per_event_batch(
        d, ["user_id"], ["t_us", "event_id"],
        lambda: stateful.cep_step(_CEP_W_US),
        "user_id long, match_n int, start_us long, end_us long")


@register("streaming_cep_pattern", _CEP_SQL)
def streaming_cep_pattern(spark, sf_dir):
    """events_cep_pattern through the LIVE streaming runtime
    (applyInPandasWithState): the same ``cep_step`` automaton with
    constant three-integer keyed state — Flink-CEP's within-window
    sequence detection is exactly the shape Structured Streaming's
    arbitrary-stateful operator is for. Matches stream out in append
    mode as they complete; same oracle as the batch twin."""
    from ..streaming import stateful

    d = _cep_input(_events_stream(spark, sf_dir))
    out = stateful.apply_per_event_stream(
        d, ["user_id"], ["t_us", "event_id"],
        lambda: stateful.cep_step(_CEP_W_US),
        "user_id long, match_n int, start_us long, end_us long",
        # state is (s_last, c_s, n): TWO unix-micros timestamps + a
        # counter — all three declared long so a schema-enforcing
        # state store (Scala interop / transformWithState) can never
        # wrap the ~1.6e15 anchors into int32
        "s_last long, c_s long, n long",
        lambda s: (int(s[0]), int(s[1]), int(s[2])),
        lambda r: (int(r[0]), int(r[1]), int(r[2])))
    emitted = _run_stream_to_table(spark, out, "cep_stream")
    return emitted.select("user_id", F.col("match_n").cast("int"),
                          "start_us", "end_us")


# notFollowedBy fold state: [pend, s1,o1,r1, s2,o2,r2, ...] — pending
# signup ts (-1 = none) then resolved (signup, outcome 1|2, resolve)
# triples. The corpus-end sentinel (ty 0 at the global max ts, ordered
# LAST among equal-ts events) deterministically churns trailing
# pendings whose window has closed; still-open ones emit nothing.
_CEP_ABS_EXP = f"(acc[1] >= 0 AND e[1] - acc[1] > {_CEP_W_US})"
_CEP_ABS_P = f"(CASE WHEN {_CEP_ABS_EXP} THEN CAST(-1 AS BIGINT) " \
             f"ELSE acc[1] END)"
_CEP_ABS_TAIL = (f"(CASE WHEN {_CEP_ABS_EXP} THEN list_concat(acc[2:], "
                 f"[acc[1], 2, acc[1] + {_CEP_W_US}]) ELSE acc[2:] END)")

_CEP_ABS_SQL = f"""
WITH {EV_SQL},
f AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CASE event_type WHEN 'signup' THEN 1 ELSE 3 END AS ty
  FROM ev WHERE event_type IN ('signup', 'purchase')
  UNION ALL
  SELECT user_id, (SELECT max(epoch_us(ts)) FROM ev) AS t,
         4611686018427387904 AS event_id, 0 AS ty
  FROM (SELECT DISTINCT user_id FROM ev)),
folded AS (
  SELECT user_id,
         list_reduce(
           list_prepend([CAST(-1 AS BIGINT)],
                        list([t, CAST(ty AS BIGINT)]
                             ORDER BY t, event_id)),
           (acc, e) -> CASE
             WHEN e[2] = 1 AND {_CEP_ABS_P} < 0
               THEN list_concat([e[1]], {_CEP_ABS_TAIL})
             WHEN e[2] = 3 AND {_CEP_ABS_P} >= 0
               THEN list_concat([CAST(-1 AS BIGINT)],
                                list_concat({_CEP_ABS_TAIL},
                                            [{_CEP_ABS_P}, 1, e[1]]))
             ELSE list_concat([{_CEP_ABS_P}], {_CEP_ABS_TAIL})
           END) AS st
  FROM f GROUP BY user_id),
m AS (SELECT user_id, st[2:] AS tri FROM folded)
SELECT user_id,
       unnest(list_transform(generate_series(1, len(tri) // 3),
                             i -> tri[CAST(3 * i - 2 AS INTEGER)]))
         AS signup_us,
       unnest(list_transform(generate_series(1, len(tri) // 3),
         i -> CASE tri[CAST(3 * i - 1 AS INTEGER)]
              WHEN 1 THEN 'converted' ELSE 'churned' END)) AS outcome,
       unnest(list_transform(generate_series(1, len(tri) // 3),
                             i -> tri[CAST(3 * i AS INTEGER)]))
         AS resolve_us
FROM m
"""


@register("events_cep_absence", _CEP_ABS_SQL)
def events_cep_absence(spark, sf_dir):
    """CEP ABSENCE pattern — Flink's Pattern.begin('signup')
    .notFollowedBy('purchase').within(24h), the churn detector: one
    row per tracked signup with outcome 'converted' (a purchase landed
    inside the window, resolve_us = its ts) or 'churned' (the window
    elapsed first, resolve_us = the deadline). Absence patterns are
    the hard CEP case because the interesting outcome fires on the
    passage of TIME, not an event; here expiry is checked on every
    subsequent event plus one end-of-corpus sentinel per user (global
    max ts, ordered last), so trailing signups resolve exactly when
    their deadline precedes corpus end and stay silently OPEN
    otherwise — deterministic on both engines by construction. One
    pending anchor per user (one timestamp of state); same bounded
    shape as events_cep_pattern. See stateful.cep_absence_step."""
    from ..streaming import stateful

    d = _cep_absence_input(spark, sf_dir)
    return stateful.apply_per_event_batch(
        d, ["user_id"], ["t_us", "event_id"],
        lambda: stateful.cep_absence_step(_CEP_W_US),
        "user_id long, signup_us long, outcome string, resolve_us long")


def _cep_absence_input(spark, sf_dir):
    """Shared input builder for the absence twins: signup/purchase
    projection + ONE end-of-corpus sentinel row per user (ty 0 at the
    global max ts, max-ordered event_id so it folds last among
    equal-ts rows). Shared so the batch and streaming twins cannot
    drift on the sentinel construction."""
    ev = load(spark, sf_dir, "events")
    base = (ev.filter(F.col("event_type").isin("signup", "purchase"))
            .select("user_id", F.unix_micros("ts").alias("t_us"),
                    "event_id",
                    F.when(F.col("event_type") == "signup", 1)
                    .otherwise(3).alias("ty")))
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("_m_us"))
    sent = (ev.select("user_id").distinct()
            .crossJoin(F.broadcast(mx))
            .select("user_id", F.col("_m_us").alias("t_us"),
                    F.lit(4611686018427387904).alias("event_id"),
                    F.lit(0).alias("ty")))
    return base.unionByName(sent)


@register("streaming_cep_absence", _CEP_ABS_SQL)
def streaming_cep_absence(spark, sf_dir):
    """events_cep_absence through the LIVE streaming runtime — the
    notFollowedBy churn detector as applyInPandasWithState. This is
    the production shape of the absence pattern: timeouts resolve on
    each key's NEXT event (no per-key timer scan), and the one
    corpus-end sentinel per user rides IN the topic like the
    CDC/left-outer entries' watermark rows — with AvailableNow the
    engine schedules no eviction batch after the last file, so
    time-passage signals must arrive as data. State is one int64
    timestamp per user (declared long — the st/cep schema contract);
    same DuckDB oracle as the batch twin; the input builder is shared
    so the sentinel construction cannot drift between them."""
    from ..streaming import stateful

    topic = _scratch("cepabs_topic_")
    _cep_absence_input(spark, sf_dir).write.mode("overwrite") \
        .parquet(topic)
    src = spark.readStream.schema(
        "user_id long, t_us long, event_id long, ty int").parquet(topic)
    out = stateful.apply_per_event_stream(
        src, ["user_id"], ["t_us", "event_id"],
        lambda: stateful.cep_absence_step(_CEP_W_US),
        "user_id long, signup_us long, outcome string, resolve_us long",
        "pend long",
        lambda s: (int(s[0]),), lambda r: (int(r[0]),))
    emitted = _run_stream_to_table(spark, out, "cepabs_stream")
    return emitted.select("user_id", "signup_us", "outcome",
                          "resolve_us")


@register("events_retention_cohorts", f"""
WITH {EV_SQL},
w AS (SELECT user_id, epoch_ms(ts) // 604800000 AS week FROM ev),
c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
a AS (SELECT DISTINCT user_id, week FROM w)
SELECT c.cohort_week, a.week,
       CAST(a.week - c.cohort_week AS INTEGER) AS weeks_since,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN c ON c.user_id = a.user_id
GROUP BY 1, 2, 3
""")
def events_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in each week they were active — the standard cohort
    triangle. Weeks are INTEGER epoch-week numbers (epoch_ms div
    604800000) so both engines bucket identically with no
    date-truncation/timezone edge; the distinct on (user, week) is a
    uniform-key shuffle and the cohort lookup is a user-keyed
    equi-join."""
    ev = events_enriched(spark, sf_dir)
    w = ev.select("user_id",
                  F.floor(F.col("time_ms") / F.lit(604800000))
                  .cast("long").alias("week"))
    c = w.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    a = w.distinct()
    return (
        a.join(c, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "cohort_week", "week",
            (F.col("week") - F.col("cohort_week")).cast("int")
            .alias("weeks_since"),
            "n_users",
        )
    )


_RFM_SQL = f"""
WITH {EV_SQL},
mx AS (SELECT max(epoch_us(ts)) AS m_us FROM ev),
u AS (
  SELECT user_id,
         CAST(((SELECT m_us FROM mx) - max(epoch_us(ts)))
              // 86400000000 AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS f_n,
         CAST(coalesce(sum(CASE WHEN value IS NOT NULL THEN
                CAST(floor(value * 100.0 + 0.5) AS BIGINT) END), 0)
              AS BIGINT) AS m_cents
  FROM ev GROUP BY user_id),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
mlong AS (
  SELECT 'r' AS metric, r_days AS v FROM u
  UNION ALL SELECT 'f', f_n FROM u
  UNION ALL SELECT 'm', m_cents FROM u),
cv AS (SELECT metric, v, CAST(count(*) AS BIGINT) AS c
       FROM mlong GROUP BY 1, 2),
cum AS (SELECT metric, v,
               sum(c) OVER (PARTITION BY metric ORDER BY v) AS cum
        FROM cv),
thr AS (
  SELECT metric,
         min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS t1,
         min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS t2,
         min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS t3
  FROM cum, nrow GROUP BY metric),
tw AS (
  SELECT max(CASE WHEN metric = 'r' THEN t1 END) AS r1,
         max(CASE WHEN metric = 'r' THEN t2 END) AS r2,
         max(CASE WHEN metric = 'r' THEN t3 END) AS r3,
         max(CASE WHEN metric = 'f' THEN t1 END) AS f1,
         max(CASE WHEN metric = 'f' THEN t2 END) AS f2,
         max(CASE WHEN metric = 'f' THEN t3 END) AS f3,
         max(CASE WHEN metric = 'm' THEN t1 END) AS m1,
         max(CASE WHEN metric = 'm' THEN t2 END) AS m2,
         max(CASE WHEN metric = 'm' THEN t3 END) AS m3
  FROM thr),
b AS (
  SELECT CAST(1 + CAST(r_days > tw.r1 AS INTEGER)
                + CAST(r_days > tw.r2 AS INTEGER)
                + CAST(r_days > tw.r3 AS INTEGER) AS INTEGER)
           AS r_bucket,
         CAST(1 + CAST(f_n > tw.f1 AS INTEGER)
                + CAST(f_n > tw.f2 AS INTEGER)
                + CAST(f_n > tw.f3 AS INTEGER) AS INTEGER)
           AS f_bucket,
         CAST(1 + CAST(m_cents > tw.m1 AS INTEGER)
                + CAST(m_cents > tw.m2 AS INTEGER)
                + CAST(m_cents > tw.m3 AS INTEGER) AS INTEGER)
           AS m_bucket
  FROM u, tw)
SELECT r_bucket, f_bucket, m_bucket,
       CAST(count(*) AS BIGINT) AS n_users
FROM b GROUP BY 1, 2, 3
"""


@register("events_rfm_segments", _RFM_SQL)
def events_rfm_segments(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary quartile
    buckets), the classic customer-value grid: per user, days since
    last activity, event count, and exact-cents spend; each metric cut
    at its quartiles into buckets 1-4 (ascending — r_bucket 1 = most
    recent, m_bucket 4 = biggest spenders); output is the occupied
    cells of the 4x4x4 grid with user counts.

    Quartiles are TYPE-1 DISCRETE (smallest value whose cumulative
    user count reaches ceil(p*n)) so every threshold is an actual
    corpus value and every bucket verdict an integer compare — no
    interpolation, no float boundary, bit-equal cross-engine. And
    they're computed WITHOUT a global quantile aggregate: a global
    percentile() buffers one row per user through one task — the
    100 TB funnel — while count-by-value + the two-phase prefix sum
    (running_sum_scalable, the Gini rank pattern) shuffles only
    DISTINCT metric values and keeps the sequential step at
    #partitions rows. Recency divides non-negative micros (global
    max >= user max) so `div` == floor. One fact scan, one shuffle to
    the user grain, a 9-number threshold row broadcast back, a
    bounded (<=64-row) group-by.

    Audit note: the single-part flags are the two scalar aggregates
    (global max ts, user count) and the 3-row->1-row threshold pivot —
    all partial-aggregated map-side, so each moves O(partitions) rows;
    the const-key flag is the 3-literal-metric threshold group-by,
    same bound. The per-USER funnel a naive percentile() would have is
    exactly what the count-by-value + two-phase design removes."""
    from ..operators import cache

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    u = (ev.groupBy("user_id")
         .agg(F.max(us).alias("_last_us"),
              F.count(F.lit(1)).cast("long").alias("f_n"),
              F.coalesce(F.sum(F.when(F.col("value").isNotNull(),
                                      _cents(F.col("value")))),
                         F.lit(0)).cast("long").alias("m_cents")))
    mx = ev.agg(F.max(us).alias("_m_us"))
    u = (u.crossJoin(F.broadcast(mx))
         .select("user_id",
                 F.expr("(_m_us - _last_us) div 86400000000")
                 .cast("long").alias("r_days"),
                 "f_n", "m_cents"))
    # consumed by the metric unpivot (3x), the user count, and the
    # final bucket pass — size-gated persist so the fact shuffle to
    # the user grain isn't re-paid five times at corpus scale
    u = cache.maybe_persist(u)
    mlong = None
    for name, col in (("r", "r_days"), ("f", "f_n"), ("m", "m_cents")):
        part = u.select(F.lit(name).alias("metric"),
                        F.col(col).alias("v"))
        mlong = part if mlong is None else mlong.unionByName(part)
    cv = mlong.groupBy("metric", "v").agg(F.count(F.lit(1)).alias("c"))
    cum = windows.running_sum_scalable(cv, ["metric"], ["v"], "c",
                                       out="cum")
    nrow = u.agg(F.count(F.lit(1)).cast("long").alias("n"))
    thr = (cum.crossJoin(F.broadcast(nrow))
           .groupBy("metric")
           .agg(F.min(F.when(F.col("cum") >= F.expr("(n + 3) div 4"),
                             F.col("v"))).alias("t1"),
                F.min(F.when(F.col("cum") >= F.expr("(n + 1) div 2"),
                             F.col("v"))).alias("t2"),
                F.min(F.when(F.col("cum") >= F.expr("(3 * n + 3) div 4"),
                             F.col("v"))).alias("t3")))
    tw = thr.agg(*[
        F.max(F.when(F.col("metric") == m, F.col(t)))
        .alias(f"{m}{t[1]}")
        for m in ("r", "f", "m") for t in ("t1", "t2", "t3")])

    def bucket(col, pre):
        gt = lambda th: F.when(  # noqa: E731
            F.col(col) > F.col(th), 1).otherwise(0)
        return (F.lit(1) + gt(f"{pre}1") + gt(f"{pre}2")
                + gt(f"{pre}3")).cast("int")

    b = (u.crossJoin(F.broadcast(tw))
         .select(bucket("r_days", "r").alias("r_bucket"),
                 bucket("f_n", "f").alias("f_bucket"),
                 bucket("m_cents", "m").alias("m_bucket")))
    return (b.groupBy("r_bucket", "f_bucket", "m_bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users")))


@register("sim_label_centroids", f"""
SELECT label, CAST(g.i AS INTEGER) AS dim,
       CAST(sum(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0
                           + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 / count(*) AS centroid
FROM embeddings, (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i) g
GROUP BY 1, 2
""")
def sim_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (class prototypes — the mean
    vector IVF/k-means training and nearest-class-mean classification
    start from). Per-dimension sums are integer micro-units so
    aggregation order can't break cross-engine parity (the repo's
    cents rule applied to vectors); posexplode → (label, dim) groupBy
    is a uniform-key shuffle with map-side partial aggregation."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("_d0", "_v"))
        .groupBy("label", (F.col("_d0") + 1).cast("int").alias("dim"))
        .agg(
            (F.sum(F.floor(F.col("_v").cast("double") * 1000000.0 + 0.5)
                   .cast("long")).cast("double")
             / 1000000.0 / F.count(F.lit(1))).alias("centroid"))
    )


@register("sim_ncm_accuracy", expand_round6(f"""
WITH cent_rows AS ({ORACLES['sim_label_centroids']}),
cents AS (SELECT label AS c_label,
                 list(centroid ORDER BY dim) AS cvec
          FROM cent_rows GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label, c.c_label,
         ROUND6({sim.sql_cosine('e.embedding', 'c.cvec', _EMB_DIM)})
           AS cos
  FROM embeddings e CROSS JOIN cents c
  WHERE ({sim.sql_dot('e.embedding', 'e.embedding', _EMB_DIM)}) <> 0.0),
best AS (
  SELECT vec_id, label, c_label FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, c_label ASC) AS rn
    FROM scored) WHERE rn = 1)
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS accuracy
FROM best GROUP BY label
"""))
def sim_ncm_accuracy(spark, sf_dir):
    """Nearest-class-mean classification accuracy per label: every
    vector is assigned the centroid (sim_label_centroids) with highest
    cosine (tie → lowest label) and scored against its true label —
    the standard linear-probe-lite evaluation of an embedding space.
    The 10 centroids broadcast; the corpus never shuffles until the
    tiny per-label aggregate."""
    # a zero-norm vector has no defined similarity to any centroid —
    # unclassifiable, excluded identically in the oracle (found by the
    # degenerate sweep: NULL-cosine rows rank differently per engine)
    emb = load(spark, sf_dir, "embeddings").filter(
        sim.dot(F.col("embedding"), F.col("embedding")) != F.lit(0.0))
    cent_rows = sim_label_centroids(spark, sf_dir)  # raw fn,
    # not QUERIES[...]: the wrapper would release the
    # calling entry's live caches (entry boundary)
    cents = F.broadcast(
        cent_rows.groupBy(F.col("label").alias("c_label")).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("cvec")))
    # per-side norms hoisted below the n×labels join (sim.l2sq_pre)
    scored = emb.select(
        "vec_id", "label", "embedding",
        sim.norm_col(F.col("embedding")).alias("_vn")
    ).crossJoin(cents.withColumn(
        "_cn", sim.norm_col(F.col("cvec")))).select(
        "vec_id", "label", "c_label",
        round_portable(sim.cosine_pre(
            sim.dot(F.col("embedding"), F.col("cvec")),
            F.col("_vn"), F.col("_cn")))
        .alias("cos"))
    # min of struct(-cos, c_label) == highest cosine, then lowest label —
    # min_by gets map-side partial aggregation, so the shuffle carries one
    # row per vector instead of sorting the corpus×centroids product the
    # old row_number window did.
    best = scored.groupBy("vec_id").agg(
        F.min_by(
            F.struct(F.col("label"), F.col("c_label")),
            F.struct((-F.col("cos")).alias("_nc"),
                     F.col("c_label").alias("_l")),
        ).alias("_b")
    ).select("vec_id", F.col("_b.label").alias("label"),
             F.col("_b.c_label").alias("c_label"))
    return best.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.when(F.col("c_label") == F.col("label"), 1).otherwise(0))
         .cast("double") / F.count(F.lit(1))).alias("accuracy"))


@register("events_daily_ohlc", f"""
WITH {EV_SQL}
SELECT trader,
       epoch_ms(ts) // 86400000 AS day,
       min_by(value, printf('%013d%010d', epoch_ms(ts), event_id))
         AS open,
       max(value) AS high,
       min(value) AS low,
       max_by(value, printf('%013d%010d', epoch_ms(ts), event_id))
         AS close,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM ev WHERE value IS NOT NULL GROUP BY 1, 2
""")
def events_daily_ohlc(spark, sf_dir):
    """Per-trader daily OHLC bars — the canonical market-data rollup
    for the reference's share-price domain: open/close via
    min_by/max_by on the (time, event_id) total order (deterministic
    under ties), integer epoch-day bucketing (no date/timezone edge),
    one uniform-key groupBy with map-side partials. Null-value events
    are not quotes (and the engines' min_by/max_by disagree on
    skipping NULL payloads) — filtered at input, identically in the
    oracle."""
    ev = events_enriched(spark, sf_dir).filter(F.col("value").isNotNull())
    # zero-padded string composite: lexicographic == numeric order for
    # non-negative (time_ms, event_id); DuckDB's min_by/max_by accept
    # only scalar ordering keys, so both engines use the same encoding
    ok = F.format_string("%013d%010d", F.col("time_ms"), F.col("event_id"))
    return (
        ev.groupBy(
            "trader",
            F.floor(F.col("time_ms") / F.lit(86400000)).cast("long")
            .alias("day"))
        .agg(
            F.min_by("value", ok).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ok).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


# ===========================================================================
# Round 3: timer mechanics and per-element coGroup through the LIVE runtime
# ===========================================================================

# Both ST8 timer clocks emit exactly the batch-precomputed RETURNs.
_ST8_RETURNS_SQL = f"""
WITH base AS ({ORACLES['st8_return_amounts']})
SELECT concat('txn', event_id) AS txn_id, trader,
       'RETURN' AS utype, return_coins AS coins_diff,
       CAST(-1 AS INTEGER) AS invest_diff
FROM base
"""
_ST8_EPOCH_MS = 1767225600000  # 2026-01-01T00:00:00Z


def _st8_returns(spark, sf_dir, name: str, event_time: bool):
    """The body both ST8 timer entries share: the oracle-checked batch
    arithmetic (st8_return_amounts) stages each INVEST's return amount
    and timer delay in a topic, and ``stateful.delayed_return_stream``
    keys it by txnId and emits the RETURN updater when its timer fires
    — on the processing-time clock, or on the event-time clock when
    ``event_time`` is set. Timers fire on the micro-batches AFTER the
    data drains, which are no-data batches, so that default-true conf
    is pinned rather than assumed. A run that emits fewer RETURNs than
    it staged raises instead of returning a partial result."""
    from ..streaming import stateful

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                   "true")
    base = st8_return_amounts(spark, sf_dir).select(  # raw fn, not the cache-releasing wrapper
        F.concat(F.lit("txn"), F.col("event_id")).alias("txnId"),
        "trader",
        F.col("return_coins").alias("amount"),
        # delays clamped to [1ms, 500ms] so the run stays fast and the
        # timeout is positive; event time is a fixed epoch plus a
        # per-txn sub-second offset. The emitted VALUES (what the
        # oracle hashes) depend on neither.
        F.greatest(F.least(F.col("delay_ms"), F.lit(500)), F.lit(1))
        .cast("long").alias("delay_ms"),
        F.timestamp_millis(
            F.lit(_ST8_EPOCH_MS)
            + F.pmod(F.col("event_id"), F.lit(1000))).alias("event_time"),
    )
    staged = base
    if event_time:
        # one heartbeat an hour past every possible timeout pushes the
        # watermark over all of them; its own timer is parked ~12 days
        # out so it never emits
        staged = base.unionByName(spark.range(1).select(
            F.lit("__wm_heartbeat__").alias("txnId"),
            F.lit("hb").alias("trader"),
            F.lit(0.0).alias("amount"),
            F.lit(1_000_000_000).cast("long").alias("delay_ms"),
            F.timestamp_millis(
                F.lit(_ST8_EPOCH_MS + 3_600_000)).alias("event_time")))
    topic = _scratch(f"{name}_topic_")
    # the topic staging runs under the state-store count too
    with _stream_partitions(spark):
        expected = base.count()
        staged.write.mode("overwrite").parquet(topic)

    src = spark.readStream.schema(
        "txnId string, trader string, amount double, delay_ms long, "
        "event_time timestamp"
    ).parquet(topic)
    out = stateful.delayed_return_stream(
        src,
        "txnId string, trader string, type string, coinsDiff double, "
        "investDiff int",
        lambda row: row["amount"],
        time_col="event_time" if event_time else None,
    )
    emitted = _run_stream_to_table(spark, out, f"{name}_stream",
                                   until_rows=expected)
    got = emitted.count()
    if got < expected:
        raise RuntimeError(
            f"{name}: only {got}/{expected} timers fired within the "
            "180 s deadline (check the trigger interval, the heartbeat "
            "row and spark.sql.streaming.noDataMicroBatches.enabled)")
    return emitted.select(
        F.col("txnId").alias("txn_id"), "trader",
        F.col("type").alias("utype"),
        F.col("coinsDiff").alias("coins_diff"),
        F.col("investDiff").alias("invest_diff"))


@register("streaming_st8_timer", _ST8_RETURNS_SQL)
def streaming_st8_timer(spark, sf_dir):
    """ST8's ProcessingTimeTimeout path through the LIVE streaming
    runtime (MarketDataflow.java:348-392): the oracle-checked batch
    arithmetic (st8_return_amounts) precomputes each INVEST event's
    return amount and timer delay into a file topic; the streaming
    query keys by txnId, stashes (trader, amount) in state, registers
    a processing-time timeout of delay_ms, and emits the RETURN
    TraderStateUpdater only when the timeout FIRES — across later
    micro-batches (no-data micro-batches keep the timer wheel turning,
    the mitigation for DIVERGENCES.md #4). The gate hashes the emitted
    RETURN updaters, so a timer that never fires or fires twice fails
    the row count, and a state round-trip bug fails the hash."""
    return _st8_returns(spark, sf_dir, "streaming_st8_timer",
                        event_time=False)


@register("streaming_st8_event_time", _ST8_RETURNS_SQL)
def streaming_st8_event_time(spark, sf_dir):
    """ST8's EVENT-TIME timer path through the LIVE streaming runtime
    (stateful.delayed_return_stream with a ``time_col`` — the
    deterministic-replay variant of MarketDataflow.java:348-392's
    processing-time timer): each INVEST stashes (trader, amount) keyed
    by txnId and registers an EventTimeTimeout at event_time +
    delay_ms; the RETURN updater is emitted only when the WATERMARK
    passes that timestamp. A single max-event-time heartbeat row
    (whose own timer is parked beyond any horizon) advances the
    watermark past every timeout, so all timers fire on the next
    micro-batch — by stream position, not wall clock. Same oracle as
    streaming_st8_timer: the emitted RETURN multiset must equal the
    batch-precomputed amounts, so a timer that never fires, fires
    twice, or loses state fails the gate."""
    return _st8_returns(spark, sf_dir, "streaming_st8_event_time",
                        event_time=True)


@register("streaming_w4_cogroup", ORACLES["w4_cogroup_latest"])
def streaming_w4_cogroup(spark, sf_dir):
    """W4 per-element-trigger coGroup through the LIVE streaming
    runtime (MonkeyStockChampion.java:143-232): tagged union of the
    TxnResult side (click) and price side (view) keyed by trader,
    applyInPandasWithState holding (last_txn_coins, last_price), a
    decision emitted on EVERY element — the reference's custom
    CountTrigger-on-each-element global window. The gate checks the
    LAST emission per trader against the SAME oracle as the batch twin
    w4_cogroup_latest, so the streaming fold must converge to exactly
    the batch coGroup state."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    ev = enrich_events(raw).filter(
        F.col("event_type").isin("click", "view")).select(
        "trader", "time_ms", "event_id",
        F.when(F.col("event_type") == "click", "L").otherwise("R")
        .alias("_side"),
        F.col("value").alias("v"))

    def cogroup_step():
        def step(state, row):
            c, v = (None, None) if state is None else state
            if str(row["_side"]) == "L":
                c = float(row["v"])
            else:
                v = float(row["v"])
            decision = ("HOLD" if c is None or v is None
                        else "BUY" if c > v else "SELL")
            return (c, v), {
                "time_ms": int(row["time_ms"]),
                "event_id": int(row["event_id"]),
                "last_txn_coins": c, "last_price": v,
                "decision": decision,
            }
        return step

    out = stateful.apply_per_event_stream(
        ev, ["trader"], ["time_ms", "event_id"], cogroup_step,
        "trader string, time_ms long, event_id long, "
        "last_txn_coins double, last_price double, decision string",
        "c double, v double",
        # nullable sides pack as NaN-free sentinels via -inf (values are
        # real share prices/coins, never -inf)
        lambda s: (float("-inf") if s[0] is None else s[0],
                   float("-inf") if s[1] is None else s[1]),
        lambda r: (None if r[0] == float("-inf") else r[0],
                   None if r[1] == float("-inf") else r[1]))
    # last emission per trader == the batch coGroup's final state
    emitted = _run_stream_to_table(spark, out, "w4_stream")
    return emitted.groupBy("trader").agg(
        F.max_by(
            F.struct("last_txn_coins", "last_price", "decision"),
            F.struct("time_ms", "event_id")).alias("_f")
    ).select(
        "trader",
        F.col("_f.last_txn_coins").alias("last_txn_coins"),
        F.col("_f.last_price").alias("last_price"),
        F.col("_f.decision").alias("decision"))


@register("pipeline_sequence_packing", f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({tx.sql_tokens('text')}) AS BIGINT) AS n_tokens,
         {sql_md5_long("concat('pack', doc_id)")} AS ord
  FROM documents
  WHERE len({tx.sql_tokens('text')}) > 0),
c AS (
  SELECT doc_id, n_tokens, ord,
         sum(n_tokens) OVER (ORDER BY ord, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS cum_before
  FROM t)
SELECT doc_id, n_tokens,
       CAST(cum_before // 2048 AS BIGINT) AS pack_id,
       CAST(cum_before % 2048 AS BIGINT) AS pack_offset
FROM c
""")
def pipeline_sequence_packing(spark, sf_dir):
    """GPT-style sequence packing (concatenate-and-split): documents are
    laid end-to-end in a deterministic shuffled order (md5 of doc_id —
    re-shard stable, no RNG state) and cut into fixed 2048-token
    context windows; each doc gets its pack id and offset from the
    GLOBAL running token total before it. The global cumsum is the
    constant-key prefix sum, so it runs on the two-phase
    range-partition plan (`running_sum_scalable` — sequential work is
    O(#partitions), not O(docs)); token counts are integers, so the
    two-phase addition is exact. The oracle is a plain window cumsum."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        md5_long(F.concat(F.lit("pack"), F.col("doc_id"))).alias("ord"),
    ).filter(F.col("n_tokens") > 0).withColumn("_k", F.lit(1))
    c = windows.running_sum_scalable(
        t, ["_k"], ["ord", "doc_id"], "n_tokens", out="cum")
    return c.select(
        "doc_id", "n_tokens",
        F.expr("(cum - n_tokens) div 2048").alias("pack_id"),
        ((F.col("cum") - F.col("n_tokens")) % F.lit(2048))
        .cast("long").alias("pack_offset"),
    )


@register("dataflow_market_ledger", f"""
WITH {EV_SQL},
{_PRICES_SQL},
o AS (SELECT event_id, ts, trader, otype, shares FROM ev
      WHERE otype IN ('BUY', 'SELL')),
j AS (SELECT o.event_id, o.ts, o.trader, o.otype, o.shares, p.price
      FROM o ASOF LEFT JOIN prices p ON o.ts >= p.pts),
s AS (SELECT *, coalesce(price,
        (SELECT price FROM prices ORDER BY pts LIMIT 1)) AS sp FROM j),
upd AS (
  SELECT trader, ts, event_id,
         CAST([
           ((-(CASE WHEN otype = 'BUY' THEN 1.0 ELSE -1.0 END))
            * CAST(shares AS DOUBLE)) * sp,
           CASE WHEN otype = 'BUY' THEN CAST(shares AS DOUBLE)
                ELSE -CAST(shares AS DOUBLE) END,
           0.0, 0.0, 0.0, 0.0
         ] AS DOUBLE[]) AS u
  FROM s
  UNION ALL
  SELECT trader, ts, event_id,
         CAST([
           CASE otype WHEN 'INVEST' THEN -invested ELSE 0.0 END,
           CASE otype WHEN 'FEED' THEN -CAST(monkeys AS DOUBLE)
                ELSE 0.0 END,
           0.0,
           CASE otype WHEN 'FEED' THEN CAST(monkeys AS DOUBLE)
                ELSE 0.0 END,
           CASE otype WHEN 'INVEST' THEN 1.0 ELSE 0.0 END,
           0.0
         ] AS DOUBLE[]) AS u
  FROM ev WHERE otype IN ('INVEST', 'FEED')),
seqs AS (SELECT trader, list(u ORDER BY ts, event_id) AS us
         FROM upd GROUP BY trader),
folded AS (
  SELECT trader,
         list_reduce(
           list_prepend(CAST([10.0, 5.0, 0.0, 0.0, 0.0] AS DOUBLE[]), us),
           (acc, x) -> {_ST6_STEP}) AS st
  FROM seqs)
SELECT trader,
       ROUND6(st[1]) AS coins,
       CAST(st[2] AS INTEGER) AS shares,
       CAST(st[3] AS INTEGER) AS bailouts,
       CAST(st[4] AS INTEGER) AS fed_monkeys,
       CAST(st[5] AS INTEGER) AS in_flight
FROM folded
""")
def dataflow_market_ledger(spark, sf_dir):
    """The FULL MarketDataflow composed end to end
    (MarketDataflow.java:99-132 → 190-268 → 284-310): BUY/SELL orders
    settle at the as-of share price (ST5, scalable two-phase as-of with
    first-price flush) instead of st6's fixed 2.0; MARKET updaters are
    built at the settled price; INVEST/FEED updaters join the stream
    (P12); the per-trader ST6 ledger fold validates every update with
    auto-bailout. One query exercises the whole §3.2 DAG — source
    enrichment, as-of join, conditional projection, union, keyed
    order-dependent fold — against a single composed oracle."""
    ev = events_enriched(spark, sf_dir)
    orders = ev.filter(F.col("otype").isin("BUY", "SELL")).select(
        "event_id", "ts", "trader", "otype", "shares",
        F.lit(1).alias("_k"))
    prices = _prices(spark, sf_dir).select(
        F.col("pts").alias("ts"), "price", F.lit(1).alias("_k"))
    settled = asof.asof_join(orders, prices, ["_k"], "ts", "ts",
                             ["price"], fallback="first", scalable=True)
    mkt_coins, mkt_shares = stateless.updater_from_market_order(
        F.col("otype"), F.col("shares"), F.col("asof_price"))
    mkt = settled.select(
        "trader", "ts", "event_id",
        F.lit("MARKET").alias("type"),
        mkt_coins.alias("coinsDiff"),
        mkt_shares.cast("int").alias("sharesDiff"),
        F.lit(False).alias("addBailout"),
        F.lit(0).alias("fedMonkeys"),
        F.lit(0).alias("investDiff"))
    rest = ev.filter(F.col("otype").isin("INVEST", "FEED")).select(
        "trader", "ts", "event_id",
        F.col("otype").alias("type"),
        F.when(F.col("otype") == "INVEST", -F.col("invested"))
        .otherwise(F.lit(0.0)).alias("coinsDiff"),
        F.when(F.col("otype") == "FEED", -F.col("monkeys"))
        .otherwise(F.lit(0)).cast("int").alias("sharesDiff"),
        F.lit(False).alias("addBailout"),
        F.when(F.col("otype") == "FEED", F.col("monkeys"))
        .otherwise(F.lit(0)).cast("int").alias("fedMonkeys"),
        F.when(F.col("otype") == "INVEST", F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("investDiff"))
    upd = mkt.unionByName(rest)
    out = folds.fold_by_key(
        upd, ["trader"], ["ts", "event_id"],
        ["type", "coinsDiff", "sharesDiff", "addBailout", "fedMonkeys",
         "investDiff"],
        folds.trader_state_fold, "state")
    return out.select(
        "trader",
        round_portable(F.col("state.coins")).alias("coins"),
        F.col("state.shares").alias("shares"),
        F.col("state.bailouts").alias("bailouts"),
        F.col("state.fedMonkeys").alias("fed_monkeys"),
        F.col("state.inFlightInvestments").alias("in_flight"),
    )


@register("join_salted_skew", f"""
WITH {EV_SQL},
dim AS (SELECT trader,
               CAST(sum({SQL_CENTS.format(x='value')}) AS DOUBLE) / 100.0
                 AS trader_total
        FROM ev WHERE event_type = 'purchase' GROUP BY trader)
SELECT e.event_id, e.trader, e.value, d.trader_total
FROM ev e JOIN dim d ON d.trader = e.trader
""")
def join_salted_skew(spark, sf_dir):
    """Salted skew join (operators/skew.py): the events fact stream
    joins a per-trader dimension on a 20-key (hot, skewed at scale)
    trader key, salted by a hash of event_id so each hot key spreads
    across 8 reducers instead of one. The oracle is the PLAIN join —
    salting must not change a single row. At gate SF the dimension
    would broadcast anyway; the entry pins the semantics so the
    declarative skew cure stays correct."""
    from ..operators import skew

    ev = events_enriched(spark, sf_dir)
    dim = (ev.filter(F.col("event_type") == "purchase")
           .groupBy("trader")
           .agg((F.sum(_cents(F.col("value"))).cast("double") / 100.0)
                .alias("trader_total")))
    return skew.salted_join(
        ev.select("event_id", "trader", "value"), dim, ["trader"],
        salt_col="event_id", salt_buckets=8)


@register("join_range_bucketed", f"""
WITH {EV_SQL},
c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      FROM ev WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
             value
      FROM ev WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id, c.user_id,
       p.p_us - c.c_us AS lag_us,
       p.value AS purchase_value
FROM c JOIN p ON p.user_id = c.user_id
             AND p.p_us >= c.c_us
             AND p.p_us <= c.c_us + 3600000000
""")
def join_range_bucketed(spark, sf_dir):
    """BATCH bounded range join via time-bin bucketing
    (operators/rangejoin.py): each click pairs with the same user's
    purchases in the following hour — the batch twin of
    streaming_join_interval, solved the 100 TB way. A naive equi-key +
    range-filter join materializes each key's full click×purchase
    product in the reducer before filtering (O(rows_per_key²) for hot
    keys); bucketing both sides into interval-width time bins and
    exploding the left side into its (at most two) overlapping bins
    bounds reducer work by rows-per-INTERVAL instead, with exactly one
    shuffle per side. The exact bounds re-check post-join makes the
    result row-identical to the naive join — which is precisely what
    the oracle runs."""
    from ..operators import rangejoin

    ev = events_enriched(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.unix_micros("ts").alias("c_us"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
        F.col("value").alias("purchase_value"))
    out = rangejoin.bucketed_range_join(
        clicks, purchases.withColumnRenamed("p_user", "user_id"),
        ["user_id"], "c_us", "p_us", 0, 3_600_000_000)
    return out.select(
        "click_id", "purchase_id", "user_id",
        (F.col("p_us") - F.col("c_us")).alias("lag_us"),
        "purchase_value")


_BM25_QUERY = ["join", "vector", "stream"]


@register("text_bm25_search",
          tx.sql_bm25_topk("documents", _BM25_QUERY, k=25))
def text_bm25_search(spark, sf_dir):
    """Okapi BM25 top-k lexical retrieval over the documents table —
    the keyword twin of the embedding ANN entries, on the shared
    canonical tokenizer. Term frequencies filter to the 3 query terms
    before any shuffle; df/corpus stats broadcast back; per-term
    contributions sum as integer micros (order-independent); top-25 is
    a TakeOrdered."""
    docs = load(spark, sf_dir, "documents")
    return tx.bm25_topk(docs, _BM25_QUERY, k=25)


_RRF_C = 60          # the standard RRF smoothing constant (Cormack 2009)
_RRF_QUERY_VEC = 7   # dense-query vector id; the lexical query is _BM25_QUERY
_RRF_DEPTH = 50      # per-retriever candidate depth
_RRF_TOPK = 10


def _sql_hybrid_rrf() -> str:
    lex = tx.sql_bm25_topk("documents", _BM25_QUERY, k=_RRF_DEPTH)
    den = sim.sql_cosine_topk("embeddings", [_RRF_QUERY_VEC], _EMB_DIM,
                              k=_RRF_DEPTH)
    return f"""
WITH lexq AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
              AS INTEGER) AS lex_rank
  FROM ({lex})
),
denq AS (
  SELECT neighbor_id AS doc_id, dense_rank FROM
    (SELECT neighbor_id, rank AS dense_rank FROM ({den}))
),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.dense_rank,
         coalesce(CAST(floor(1000000.0 / ({_RRF_C} + l.lex_rank))
                       AS BIGINT), 0)
         + coalesce(CAST(floor(1000000.0 / ({_RRF_C} + d.dense_rank))
                         AS BIGINT), 0) AS rrf_micros
  FROM lexq l FULL JOIN denq d ON d.doc_id = l.doc_id
)
SELECT doc_id, lex_rank, dense_rank, rrf_micros,
       CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id ASC)
            AS INTEGER) AS rank
FROM fused ORDER BY rrf_micros DESC, doc_id ASC LIMIT {_RRF_TOPK}
"""


@register("sim_hybrid_rrf", _sql_hybrid_rrf())
def sim_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke,
    Büttcher, SIGIR 2009) — the RAG-stack staple that merges a lexical
    ranking (BM25 over the query terms) with a dense ranking (exact
    cosine for the query vector) WITHOUT score calibration: fused
    score = Σ 1/(60 + rank), summed as exact integer micros so the
    fusion is order-independent and cross-engine exact. Documents in
    only one list contribute only that list's term (standard RRF over
    the candidate union).

    100 TB shape: both retrievers are already scale-shaped (BM25
    filters term postings before any shuffle; the dense side
    broadcasts the query, one corpus pass) and each emits a
    CONSTANT-size candidate list (depth 50), so the fusion join and
    the top-10 finisher are driver-trivial — the expensive work stays
    in the retrievers, which is the point of fusing by rank instead
    of re-scoring. doc_id and vec_id share an id space (TESTDATA.md),
    standing in for a corpus with text + embedding per document."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = _topk_ranked(
        tx.bm25_topk(docs, _BM25_QUERY, k=_RRF_DEPTH),
        [F.col("score").desc(), F.col("doc_id").asc()],
        _RRF_DEPTH, "lex_rank").select(
        F.col("doc_id").alias("_lid"),
        F.col("lex_rank").cast("int").alias("lex_rank"))
    den = (sim.cosine_topk(emb, [_RRF_QUERY_VEC], k=_RRF_DEPTH)
           .select(F.col("neighbor_id").alias("_did"),
                   F.col("rank").cast("int").alias("dense_rank")))
    fused = (lex.join(den, F.col("_lid") == F.col("_did"), "full_outer")
             .select(
                 F.coalesce("_lid", "_did").alias("doc_id"),
                 "lex_rank", "dense_rank",
                 (F.coalesce(
                     F.floor(F.lit(1000000.0)
                             / (F.lit(_RRF_C) + F.col("lex_rank"))),
                     F.lit(0))
                  + F.coalesce(
                     F.floor(F.lit(1000000.0)
                             / (F.lit(_RRF_C) + F.col("dense_rank"))),
                     F.lit(0))).cast("long").alias("rrf_micros")))
    return _topk_ranked(
        fused, [F.col("rrf_micros").desc(), F.col("doc_id").asc()],
        _RRF_TOPK, "rank")


@register("sim_kmeans_centroids",
          sim.sql_kmeans_centroids("embeddings", _EMB_DIM))
def sim_kmeans_centroids(spark, sf_dir):
    """Sampled Lloyd k-means over the embedding corpus — the real IVF
    coarse-quantizer trainer (Jegou 2011 §III), 2 fixed iterations,
    K=8, deterministic end to end: first-K init, ROUND6(L2²) argmin
    assignment via broadcast + min_by (one row per vector shuffled,
    map-side partials), integer-micros exact means. The DuckDB twin
    unrolls the same loop into chained CTEs, so every iteration's
    arithmetic is pinned cross-engine."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.kmeans_centroids(emb, _EMB_DIM)


@register("streaming_st5_settle", ORACLES["st5_order_buffering"])
def streaming_st5_settle(spark, sf_dir):
    """ST5 order buffering through the LIVE streaming runtime
    (MarketDataflow.java:190-268): a tagged union of orders and prices
    on the reference's constant key feeds `order_buffer_step` — orders
    arriving before any price BUFFER in state and flush at the first
    price; later orders settle immediately at the latest price. The
    emitted (order, settle_price) rows hash-check against the SAME
    as-of oracle as the batch twin st5_order_buffering."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    ev = enrich_events(raw)
    orders = ev.filter(F.col("event_type") == "click").select(
        F.lit("FOO").alias("key"), "time_ms",
        F.lit("L").alias("_side"),
        F.col("event_id").cast("string").alias("txnId"),
        F.lit(1).alias("shares"),
        F.lit(None).cast("double").alias("price"))
    # same per-ts max price dedup as the batch twin's _prices
    # (incl. its NULL-value exclusion: a NULL-value purchase carries
    # no price and must not enter the settle state)
    prices = ev.filter((F.col("event_type") == "purchase")
                       & F.col("value").isNotNull()).select(
        F.lit("FOO").alias("key"), "time_ms",
        F.lit("R").alias("_side"),
        F.lit(None).cast("string").alias("txnId"),
        F.lit(None).cast("int").alias("shares"),
        F.col("value").alias("price"))
    # R sorts before L at equal time so a price at t settles an order
    # at t (the batch as-of's <= semantics); equal-time prices process
    # in ascending order so the LAST seen equals the batch twin's
    # per-ts max(value) dedup; L ties break on txnId.
    tagged = (orders.unionByName(prices)
              .withColumn("_sr",
                          F.when(F.col("_side") == "R", 0).otherwise(1))
              .withColumn("_pr", F.coalesce("price",
                                            F.lit(float("-inf"))))
              .withColumn("_tid", F.coalesce("txnId", F.lit(""))))

    out = stateful.apply_per_event_stream(
        tagged, ["key"], ["time_ms", "_sr", "_pr", "_tid"],
        stateful.order_buffer_step,
        "key string, txnId string, shares int, settle_price double",
        "price double, buffered string",
        lambda s: (-1.0 if s[0] is None else float(s[0]),
                   json.dumps(list(s[1]))),
        lambda r: (None if r[0] == -1.0 else r[0],
                   tuple(tuple(x) for x in json.loads(r[1]))))
    return _run_stream_to_table(spark, out, "st5_stream").select(
        F.col("txnId").cast("long").alias("event_id"), "settle_price")


@register("streaming_st3_burst", ORACLES["st3_bubble_burst"])
def streaming_st3_burst(spark, sf_dir):
    """ST3 bubble-burst state machine through the LIVE streaming
    runtime (SharePriceDataflow.java:169-225): per-event state
    transitions with the injected md5 burst randomness; the LAST
    emission per key must equal the batch fold's final state, so the
    entry is checked against the SAME oracle as st3_bubble_burst. The
    Python step mirrors the JVM fold arithmetic operation-for-operation
    (same IEEE ops in the same order ⇒ identical bits before the final
    rounding)."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    ev = enrich_events(raw)
    rand = (
        md5_long(F.concat(F.lit("burst|"), F.col("event_type"),
                          F.lit("|"), F.col("event_id"))) % 1048576
    ).cast("double") / 1048576.0
    infl = F.when(F.col("value") < 25.0, 0.01).otherwise(-0.01)
    src = ev.select("event_type", "time_ms", "event_id",
                    infl.alias("infl"), rand.alias("rand"))

    def burst_step():
        mults = stateful.BURST_MULTS

        def step(state, row):
            running, prev, stp = (0.0, 0.0, 0) if state is None else state
            running = running + float(row["infl"])
            d0 = running - prev
            if stp > 0:
                d1 = d0 * mults[stp]
                stp2 = stp + 1 if stp < 10 else 0
            else:
                d1 = d0
                stp2 = 1 if float(row["rand"]) < d0 * 0.01 else 0
            return (running, d1, stp2), {
                "time_ms": int(row["time_ms"]),
                "event_id": int(row["event_id"]),
                "running": running, "diff": d1, "step": stp2,
            }
        return step

    out = stateful.apply_per_event_stream(
        src, ["event_type"], ["time_ms", "event_id"], burst_step,
        "event_type string, time_ms long, event_id long, "
        "running double, diff double, step int",
        "running double, prev double, step int",
        lambda s: (float(s[0]), float(s[1]), int(s[2])),
        lambda r: (r[0], r[1], int(r[2])))
    emitted = _run_stream_to_table(spark, out, "st3_stream")
    return emitted.groupBy("event_type").agg(
        F.max_by(F.struct("running", "diff", "step"),
                 F.struct("time_ms", "event_id")).alias("_f")
    ).select(
        "event_type",
        round_portable(F.col("_f.running")).alias("hype_total"),
        round_portable(F.col("_f.diff")).alias("diff"),
        F.col("_f.step").alias("burst_step"))


# ---------------------------------------------------------------------------
# Events stream sources shared by the live-runtime entries (the drains are
# the run-lifecycle helpers at the top of the module).
# ---------------------------------------------------------------------------

def _events_stream(spark, sf_dir, staged_dir: str | None = None,
                   max_files: int | None = None):
    """readStream over the events parquet with the same ts normalization
    as the batch ``load`` — or over every parquet file in ``staged_dir``,
    a staged copy written in the same on-disk encoding, at most
    ``max_files`` per micro-batch.

    readStream needs an explicit schema, so probe the BATCH schema first
    and build the stream schema to match the on-disk encoding — hard-coding
    ``ts long`` over timestamp[us] data silently reads raw microseconds and
    compresses event time 1000× (the r5 session-window/interval-join bug).
    The probe is one parquet-footer read per sf_dir per process; memoized
    in ``_EVENTS_TS_META`` keyed on (path, st_mtime_ns, st_size) so
    repeat streaming entries (bench runs 3×) don't re-pay it, while a
    testdata file regenerated under a live session with a different
    encoding invalidates the stale entry — even a same-second rewrite,
    which the old float-mtime key could serve stale — instead of
    silently reading wrong values.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_dtype, ts_unit = _events_ts_meta(spark, sf_dir)
    reader = spark.readStream.schema(
        f"event_id long, ts {ts_dtype}, user_id long, "
        "event_type string, value double, props string")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return (reader.option("pathGlobFilter",
                          "*.parquet" if staged_dir else "events.parquet")
            .parquet(staged_dir or sf_dir)
            .select("event_id",
                    _ts_to_utc_timestamp(ts_dtype, ts_unit).alias("ts"),
                    "user_id", "event_type", "value", "props"))


def _staged_events_with_sentinel(spark, sf_dir, sent_us: int,
                                 max_files: int | None = None):
    """readStream over a STAGED copy of the events source: the real
    file(s) symlinked into a temp dir (no data copy) plus one real
    sentinel parquet — two rows (click + purchase, user_id -1, ts =
    ``sent_us``) — whose mtime is set strictly NEWER than every data
    file. Spark's file source orders micro-batches by file mtime
    (oldest first), so whatever ``maxFilesPerTrigger`` splits the
    input into, the watermark-lifting sentinel is CAUSALLY LAST: it
    can never advance the global watermark past real events still in
    flight, which is what made the round-12 projection sentinel
    single-batch-only. Read through ``_events_stream`` (the sentinel
    file is written in the data files' own on-disk encoding so one
    stream schema covers both)."""
    import time as time_mod

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_dtype, ts_unit = _events_ts_meta(spark, sf_dir)
    src = os.path.join(sf_dir, "events.parquet")
    files = ([os.path.join(src, f) for f in sorted(os.listdir(src))
              if f.endswith(".parquet")]
             if os.path.isdir(src) else [src])
    d = _scratch("sjlo_staged_")
    for i, f in enumerate(files):
        os.symlink(os.path.abspath(f), os.path.join(
            d, f"events-{i:04d}.parquet"))
    if ts_dtype == "bigint":
        ts_arr = pa.array(
            [sent_us * 1000 if ts_unit == "ns" else sent_us] * 2,
            type=pa.int64())
    else:
        ts_arr = pa.array([sent_us] * 2, type=pa.timestamp("us"))
    sent_path = os.path.join(d, "events-zzzz-sentinel.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array([-1, -1], type=pa.int64()),
        "ts": ts_arr,
        "user_id": pa.array([-1, -1], type=pa.int64()),
        "event_type": pa.array(["click", "purchase"], type=pa.string()),
        "value": pa.array([0.0, 0.0], type=pa.float64()),
        "props": pa.array([None, None], type=pa.string()),
    }), sent_path)
    newest = max(max(os.stat(f).st_mtime for f in files),
                 time_mod.time()) + 2.0
    os.utime(sent_path, (newest, newest))
    return _events_stream(spark, sf_dir, d, max_files)


def _run_stream_update_latest(spark, agg, prefix: str,
                              key_cols: list[str]):
    """UPDATE-mode finalize for streaming aggregations: foreachBatch
    spills only each micro-batch's UPDATED rows (stamped with the
    batch id, ``_run_stream_to_spill``); the batch finalize keeps each
    key's last emission — a per-KEY row_number window, never global.
    This is the production emission mode for unbounded key spaces:
    complete mode re-emits the ENTIRE aggregate every micro-batch
    (fine for a gate harness, quadratic pain at real user
    cardinality), while update mode's emission volume is proportional
    to keys actually touched per batch. The aggregation state itself
    is identical either way (one row per key in the state store) —
    only what crosses the sink changes."""
    sunk, _q = _run_stream_to_spill(
        spark, agg, f"{prefix}_upd",
        StructType([*agg.schema.fields, StructField("_batch", LongType())]),
        lambda b, bid: b.withColumn("_batch", F.lit(int(bid))),
        mode="update")
    w = Window.partitionBy(*key_cols).orderBy(F.col("_batch").desc())
    return (sunk.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_batch"))


@register("streaming_st7_invest", ORACLES["st7_running_investment"])
def streaming_st7_invest(spark, sf_dir):
    """ST7 running per-trader investment total
    (MarketDataflow.java:319-339) through the LIVE streaming runtime:
    total += abs(investedCoins) as exact integer cents via
    ``running_cents_step`` — whose numpy-cumsum vectorized path is
    bit-identical to the scalar fold (integer addition is associative),
    so the whole micro-batch leaves the Python loop. Hash-checked
    against the SAME oracle as the batch twin st7_running_investment."""
    from ..streaming import stateful

    ev = enrich_events(_events_stream(spark, sf_dir)).filter(
        F.col("event_type") == "signup")
    src = ev.select(
        "trader", "ts", "event_id",
        _cents(F.abs(F.col("invested"))).alias("_c"))
    out = stateful.apply_per_event_stream(
        src, ["trader"], ["ts", "event_id"],
        stateful.running_cents_step,
        "trader string, event_id long, running_sum double",
        "total long",
        lambda s: (int(s[0]),), lambda r: (int(r[0]),))
    emitted = _run_stream_to_table(spark, out, "st7_stream")
    return emitted.select(
        "event_id", "trader",
        F.col("running_sum").alias("total_invested"))


@register("streaming_st9_sequence", ORACLES["st9_txn_sequence"])
def streaming_st9_sequence(spark, sf_dir):
    """ST9 per-key monotone txn-id counter
    (MonkeyStockTrader.java:167-206) through the LIVE streaming runtime,
    over the full event stream keyed by trader. The counter is an
    integer recurrence, so ``sequence_counter_step``'s vectorized path
    (base + arange) is bit-identical to the per-event fold. Checked
    against the batch twin's row_number() oracle."""
    from ..streaming import stateful

    ev = enrich_events(_events_stream(spark, sf_dir)).select(
        "trader", "ts", "event_id")
    out = stateful.apply_per_event_stream(
        ev, ["trader"], ["ts", "event_id"],
        lambda: stateful.sequence_counter_step(id_col="event_id"),
        "trader string, event_id long, seq int",
        "n long",
        lambda s: (int(s[0]),), lambda r: (int(r[0]),))
    emitted = _run_stream_to_table(spark, out, "st9_stream")
    return emitted.select("event_id", "trader", F.col("seq").cast("int"))


@register("streaming_st10_delta", ORACLES["st10_price_delta"])
def streaming_st10_delta(spark, sf_dir):
    """ST10 latest-price side input → P&L delta
    (MonkeyStockTrader.java:208-236) through the LIVE streaming runtime:
    a tagged union of clicks (side L) and purchase prices (side R) on
    the reference's constant key feeds ``latest_side_value_step`` —
    clicks before any price are DROPPED, later clicks emit value −
    latestPrice. Order within the batch: R before L at equal ts (a
    price at t applies to a click at t — the batch as-of's >= bound),
    equal-ts prices ascending so the last stored equals the batch
    twin's per-ts max(value) dedup. Same oracle as st10_price_delta."""
    from ..streaming import stateful

    ev = enrich_events(_events_stream(spark, sf_dir))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit("FOO").alias("key"), "ts", "event_id",
        F.lit("L").alias("_side"), F.col("value").alias("v"))
    prices = ev.filter((F.col("event_type") == "purchase")
                       & F.col("value").isNotNull()).select(
        F.lit("FOO").alias("key"), "ts", "event_id",
        F.lit("R").alias("_side"), F.col("value").alias("v"))
    tagged = (clicks.unionByName(prices)
              .withColumn("_sr",
                          F.when(F.col("_side") == "R", 0).otherwise(1))
              .withColumn("_pv", F.when(F.col("_side") == "R", F.col("v"))
                          .otherwise(F.lit(float("-inf")))))
    out = stateful.apply_per_event_stream(
        tagged, ["key"], ["ts", "_sr", "_pv", "event_id"],
        lambda: stateful.latest_side_value_step(id_col="event_id"),
        "key string, event_id long, coins_delta double",
        "price double",
        lambda s: (float(s[0]),), lambda r: (r[0],))
    emitted = _run_stream_to_table(spark, out, "st10_stream")
    return emitted.select(
        "event_id",
        round_portable(F.col("coins_delta")).alias("coins_delta"))


@register("streaming_dedup_exact", """
WITH d3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text
  FROM documents WHERE doc_id < 50
)
SELECT DISTINCT md5(text) AS content_hash FROM d3
""")
def streaming_dedup_exact(spark, sf_dir):
    """Exact dedup through the LIVE streaming runtime — Structured
    Streaming's stateful dropDuplicates over the content hash, the op a
    training-data INGEST pipeline runs (dedupe-on-arrival) where the
    batch twin dedup_exact is the corpus-at-rest form. The corpus
    plants 50 EXACT copies (doc_id+20000) so the operator demonstrably
    drops them: 550 in, 500 distinct hashes out. Emits the keep-SET
    identity (distinct hashes) — deterministic under any arrival order,
    unlike "which doc_id was kept", which is the batch twin's
    min-doc_id policy. State is one entry per distinct hash; at scale
    bound it with dropDuplicatesWithinWatermark over the ingest-time
    column (documents carry no event time here)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # probe the BATCH schema instead of hard-coding one: a silent
    # on-disk type change must not desync the stream read (the round-5
    # events lesson, applied to every external-table readStream)
    raw = _table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    planted = raw.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text")
    out = (
        raw.unionByName(planted)
        .select(F.md5("text").alias("content_hash"))
        .dropDuplicates(["content_hash"])
    )
    return _run_stream_to_table(spark, out, "dedup_stream")


@register("streaming_w5_sum_per_team", ORACLES["w5_sum_per_team"])
def streaming_w5_sum_per_team(spark, sf_dir):
    """W5b per-team sum through Spark's BUILT-IN streaming aggregation —
    the engine path the reference's ES dashboard aggregations ride
    (kibana-dashboard.json pies), distinct from the arbitrary-state
    operator every other live entry exercises: groupBy(team) with an
    integer-cents sum in COMPLETE output mode, partial aggregates
    map-side-combined then maintained in the state store, the full
    updated result emitted per micro-batch. Same oracle as the batch
    twin w5_sum_per_team."""
    ev = enrich_events(_events_stream(spark, sf_dir))
    out = ev.groupBy("team").agg(
        (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
        .alias("sum_value"))
    return _run_stream_to_table(spark, out, "w5sum_stream",
                                mode="complete")


@register("streaming_w5_top5_traders", ORACLES["w5_top5_traders"])
def streaming_w5_top5_traders(spark, sf_dir):
    """W5c top-5 traders through the built-in streaming aggregation +
    complete-mode sort/limit ("terms trader size 5 order desc") — the
    streaming top-k a live dashboard maintains; deterministic
    tie-break on the trader id, same oracle as the batch twin."""
    ev = enrich_events(_events_stream(spark, sf_dir)).withColumn(
        "_c", _cents(F.col("value")))
    out = (
        ev.groupBy("trader")
        .agg((F.sum("_c").cast("double") / 100.0).alias("sum_value"))
        .orderBy(F.col("sum_value").desc(), F.col("trader").asc())
        .limit(5)
    )
    return _run_stream_to_table(spark, out, "w5top_stream",
                                mode="complete")


@register("streaming_st4_combiner", f"""
WITH {EV_SQL},
tagged AS (
  SELECT ts, event_id,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
         CASE WHEN event_type = 'click' THEN value / 100.0
              ELSE value END AS v
  FROM ev WHERE event_type IN ('click', 'purchase')),
h AS (
  SELECT ts, event_id, side, v,
         last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
           OVER (ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hype
  FROM tagged),
pr AS (
  SELECT ts, event_id, v + coalesce(hype, CAST(0.0 AS DOUBLE)) AS new_value
  FROM h WHERE side = 1),
s AS (SELECT list(new_value ORDER BY ts, event_id) AS vs,
             list(event_id ORDER BY ts, event_id) AS ids
      FROM pr),
x AS (SELECT unnest(ids) AS event_id,
             unnest(vs) AS new_value,
             unnest(list_transform(generate_series(1, len(vs)),
                 i -> list_reduce(list_slice(vs, 1, i),
                      (acc, nv) -> nv * CAST(0.1 AS DOUBLE)
                                   + acc * CAST(0.9 AS DOUBLE)))) AS ema
      FROM s)
SELECT event_id, ROUND6(new_value) AS new_value,
       ROUND6(ema / new_value) AS forecast_mult
FROM x
""")
def streaming_st4_combiner(spark, sf_dir):
    """ST4 EMA + latest-side-value combiner
    (SharePriceDataflow.java:227-266) through the LIVE streaming
    runtime — the per-event PRODUCTION form of the combiner whose only
    prior executable shape was st4_ema_combiner's global-array oracle
    twin. Tagged union of hype (clicks, value/100) and base prices
    (purchases) on the reference's constant key feeds
    ``ema_combiner_step`` with O(1) state; every price event emits
    (new_value, forecast). The oracle carries the hype side-value
    forward with an IGNORE NULLS last_value window and replays every
    EMA prefix with the exact same IEEE operation order."""
    from ..streaming import stateful

    ev = enrich_events(_events_stream(spark, sf_dir))
    hype = ev.filter(F.col("event_type") == "click").select(
        F.lit("FOO").alias("key"), "ts", "event_id",
        F.lit("L").alias("_side"), (F.col("value") / 100.0).alias("v"))
    base = ev.filter(F.col("event_type") == "purchase").select(
        F.lit("FOO").alias("key"), "ts", "event_id",
        F.lit("R").alias("_side"), F.col("value").alias("v"))
    tagged = hype.unionByName(base)
    out = stateful.apply_per_event_stream(
        tagged, ["key"], ["ts", "event_id"],
        lambda: stateful.ema_combiner_step(id_col="event_id"),
        "key string, event_id long, new_value double, "
        "forecast_mult double",
        "hype double, ema double, seen boolean",
        lambda s: (float(s[0]), float(s[1]), bool(s[2])),
        lambda r: (r[0], r[1], bool(r[2])))
    emitted = _run_stream_to_table(spark, out, "st4_stream")
    return emitted.select(
        "event_id",
        round_portable(F.col("new_value")).alias("new_value"),
        round_portable(F.col("forecast_mult")).alias("forecast_mult"))


@register("tpch_q12ish", """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
""")
def tpch_q12ish(spark, sf_dir):
    """TPC-H Q12-style shipping-mode priority split: CONDITIONAL
    aggregation (sum of CASE) — one join, one shuffle, both counters
    computed in the same partial aggregate instead of two passes."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register("tpch_q16ish", """
SELECT p.p_brand, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size IN (5, 10, 15, 20)
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p.p_brand, p.p_size
""")
def tpch_q16ish(spark, sf_dir):
    """TPC-H Q16-style supplier diversity: LEFT ANTI join (NOT IN over a
    non-null key — negative-balance suppliers stand in for the
    complaints filter) + COUNT DISTINCT per group. The anti build side
    broadcasts; the distinct count expands then dedupes in the same
    shuffle as the group-by."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size").isin(5, 10, 15, 20))
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register("tpch_q17ish", """
WITH pavg AS (
  SELECT l_partkey,
         sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS sum_qc,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
FROM lineitem l JOIN pavg a ON a.l_partkey = l.l_partkey
WHERE CAST(floor(l.l_quantity * 100.0 + 0.5) AS BIGINT) * 2 * a.n
      < a.sum_qc
""")
def tpch_q17ish(spark, sf_dir):
    """TPC-H Q17-style small-quantity revenue: join the fact table back
    to its own per-part aggregate and keep rows below half the part's
    average quantity. The threshold compare is EXACT integer arithmetic
    (qty_cents * 2 * n < sum_cents ⟺ qty < 0.5 * avg) so float
    summation order can't flip boundary rows between engines."""
    li = load(spark, sf_dir, "lineitem")
    pavg = (
        li.groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("sum_qc"),
             F.count(F.lit(1)).alias("n"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    return (
        li.join(pavg, li.l_partkey == pavg._pk)
        .filter(_cents(F.col("l_quantity")) * 2 * F.col("n")
                < F.col("sum_qc"))
        .agg((F.sum(_cents(F.col("l_extendedprice"))).cast("double")
              / 100.0 / 7.0).alias("avg_yearly"))
    )


@register("tpch_q22ish", """
WITH pos AS (
  SELECT sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM customer WHERE c_acctbal > 0.0),
eligible AS (
  SELECT c.c_custkey, c.c_nationkey,
         CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
  FROM customer c, pos
  WHERE CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) * pos.n > pos.s
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT'))
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS totacctbal
FROM eligible GROUP BY c_nationkey
""")
def tpch_q22ish(spark, sf_dir):
    """TPC-H Q22-style global sales opportunity: a SCALAR subquery
    threshold (broadcast single-row cross join) + NOT EXISTS (left anti
    join) — customers above the average positive balance with no urgent
    orders. The average compare is exact integer arithmetic
    (cents * n > sum_cents ⟺ acctbal > avg) for cross-engine parity."""
    c = load(spark, sf_dir, "customer")
    pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.sum(_cents(F.col("c_acctbal"))).alias("s"),
             F.count(F.lit(1)).alias("n"))
    )
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    eligible = (
        c.crossJoin(F.broadcast(pos))
        .filter(_cents(F.col("c_acctbal")) * F.col("n") > F.col("s"))
        .join(F.broadcast(urgent), c.c_custkey == urgent.o_custkey,
              "left_anti")
    )
    return eligible.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum(_cents(F.col("c_acctbal"))).cast("double") / 100.0)
        .alias("totacctbal"))


@register("tpch_rollup", """
SELECT r.r_name, n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                           * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""")
def tpch_rollup(spark, sf_dir):
    """Revenue by (region, nation) with ROLLUP — hierarchical subtotals
    plus the grand total in ONE pass (Catalyst's Expand operator
    replicates each row per grouping set before a single shuffle; at
    100 TB that is one aggregation instead of three). NULL group
    columns mark the subtotal levels identically in both engines."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg((F.sum(
            _cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))))
            .cast("double") / 100.0).alias("revenue"))
    )


@register("join_bucketed_colocated", """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l.l_quantity * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS qty_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""")
def join_bucketed_colocated(spark, sf_dir):
    """The fact-to-fact join with the shuffle REMOVED AT THE STORAGE
    LAYER: both sides are written as bucketed+sorted tables on the
    join key (8 buckets here; thousands on a cluster), so the
    sort-merge join reads co-located buckets directly — the physical
    plan has NO Exchange on either side
    (tests/test_operators.py::test_bucketed_join_has_no_exchange
    pins this). This is the 100 TB answer for a join BOTH of whose
    sides are too big to broadcast and which recurs across many
    queries: pay the bucket-write once at ingest, never shuffle the
    fact again. Results are hash-identical to the plain shuffled join
    (the oracle), because bucketing changes only data placement.
    The write-then-join here exists to exercise the path end-to-end
    at gate scale; a real deployment points `load()` at
    already-bucketed tables."""
    tag = uuid.uuid4().hex[:8]
    base = _scratch("bucketed_")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey",
                                             "o_orderpriority")
    tli, to = f"bk_li_{tag}", f"bk_o_{tag}"
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .option("path", f"{base}/li").saveAsTable(tli))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", f"{base}/o").saveAsTable(to))
    lb, ob = spark.table(tli), spark.table(to)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum(_cents(F.col("l_quantity"))).alias("qty_cents"))
    )


@register("scan_partition_pruned", """
WITH e AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         event_type, value
  FROM events)
SELECT day_idx, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS rev_cents
FROM e
WHERE day_idx >= 19730 AND day_idx < 19733
GROUP BY day_idx, event_type
""")
def scan_partition_pruned(spark, sf_dir):
    """Partition pruning — the scan-side complement to the bucketed
    join: events land PARTITIONED BY day (hive-style day_idx=N/
    directories), and a 3-day query never opens the other ~27 days'
    files — the plan's PartitionFilters prune at the FILE LISTING, so
    a 100 TB table costs only the days touched
    (tests/test_operators.py::test_partition_pruning_skips_files
    pins the pruned partition count). Day comes from the same integer
    epoch-day index as events_rolling_7d; the write-then-read here
    exercises the layout end-to-end at gate scale — a real deployment
    ingests partitioned once and every daily query prunes forever.
    Results are hash-identical to the unpartitioned scan + filter
    (the oracle)."""
    base = _scratch("partitioned_")
    ev = load(spark, sf_dir, "events").select(
        F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
        .cast("long").alias("day_idx"),
        "event_type", _cents(F.col("value")).alias("_c"))
    ev.write.partitionBy("day_idx").parquet(f"{base}/events_by_day")
    part = spark.read.parquet(f"{base}/events_by_day")
    return (
        part.filter((F.col("day_idx") >= 19730) & (F.col("day_idx") < 19733))
        .groupBy(F.col("day_idx").cast("long").alias("day_idx"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("_c").alias("rev_cents"))
    )


@register("join_fuzzy_names", """
WITH probes AS (
  SELECT s_suppkey AS probe_id,
         substr(s_name, 1, 2) || 'x' || substr(s_name, 4) AS probe_name
  FROM supplier WHERE s_suppkey % 10 = 0),
cg AS (
  SELECT s_suppkey, s_name, unnest(list_distinct(list_transform(
           generate_series(1, length(s_name) - 2),
           i -> substr(s_name, i, 3)))) AS g
  FROM supplier),
rare AS (
  SELECT g FROM cg GROUP BY g HAVING count(DISTINCT s_suppkey) <= 50),
cr AS (SELECT s_suppkey, s_name, g FROM cg
       WHERE g IN (SELECT g FROM rare)),
pg AS (
  SELECT probe_id, probe_name, unnest(list_distinct(list_transform(
           generate_series(1, length(probe_name) - 2),
           i -> substr(probe_name, i, 3)))) AS g
  FROM probes),
cand AS (
  SELECT DISTINCT p.probe_id, p.probe_name, c.s_suppkey, c.s_name
  FROM pg p JOIN cr c ON c.g = p.g)
SELECT probe_id, probe_name, s_suppkey, s_name,
       CAST(levenshtein(probe_name, s_name) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(probe_name, s_name) <= 2
""")
def join_fuzzy_names(spark, sf_dir):
    """Fuzzy entity-resolution join (record linkage): corrupted probe
    names (3rd char replaced) re-match their suppliers within edit
    distance 2 — via character-trigram blocking with RARE-GRAM
    SUPPRESSION, the technique that keeps fuzzy joins off the
    all-pairs cliff: TPC-H names share a long constant prefix, so
    common trigrams ('Sup','upp',…) have df = |suppliers| and would
    make every probe a candidate for every row; dropping trigrams
    with df > 50 keeps only the discriminative suffix grams, so
    candidates are O(names per rare gram), never |probes|×|corpus|.
    Exact Levenshtein (identical definition both engines) verifies
    candidates. Recall contract: a match is reachable only if it
    shares ≥1 rare gram — measurably 9/10 probes at sf0.01: the
    all-zeros name 'Supplier#000000000' is built ENTIRELY of
    ubiquitous grams and is unreachable, the textbook recall/bound
    tradeoff (the dial is the df threshold, like LSH band count;
    raising it re-admits such names at higher candidate cost).
    Distance ≤2 may legitimately match digit-neighbor suppliers
    too — the fuzzy-join semantics, not a bug."""
    s = load(spark, sf_dir, "supplier")
    probes = s.filter(F.col("s_suppkey") % 10 == 0).select(
        F.col("s_suppkey").alias("probe_id"),
        F.concat(F.substring("s_name", 1, 2), F.lit("x"),
                 F.expr("substr(s_name, 4)")).alias("probe_name"))
    grams = F.expr("array_distinct(transform("
                   "sequence(1, length(s_name) - 2),"
                   " i -> substring(s_name, i, 3)))")
    cg = s.select("s_suppkey", "s_name",
                  F.explode(grams).alias("g"))
    rare = (cg.groupBy("g")
            .agg(F.count_distinct("s_suppkey").alias("_df"))
            .filter(F.col("_df") <= 50).select("g"))
    cr = cg.join(rare, "g", "left_semi")
    pgrams = F.expr("array_distinct(transform("
                    "sequence(1, length(probe_name) - 2),"
                    " i -> substring(probe_name, i, 3)))")
    pg = probes.select("probe_id", "probe_name",
                       F.explode(pgrams).alias("g"))
    cand = (pg.join(cr, "g")
            .select("probe_id", "probe_name", "s_suppkey", "s_name")
            .distinct())
    dist = F.levenshtein("probe_name", "s_name")
    return (cand.filter(dist <= 2)
            .select("probe_id", "probe_name", "s_suppkey", "s_name",
                    dist.cast("long").alias("dist")))


@register("join_fuzzy_recall", """
WITH probes AS (
  SELECT s_suppkey AS probe_id,
         substr(s_name, 1, 2) || 'x' || substr(s_name, 4) AS probe_name
  FROM supplier WHERE s_suppkey % 10 = 0),
cg AS (
  SELECT s_suppkey, s_name, unnest(list_distinct(list_transform(
           generate_series(1, length(s_name) - 2),
           i -> substr(s_name, i, 3)))) AS g
  FROM supplier),
rare AS (
  SELECT g FROM cg GROUP BY g HAVING count(DISTINCT s_suppkey) <= 50),
cr AS (SELECT s_suppkey, s_name, g FROM cg
       WHERE g IN (SELECT g FROM rare)),
pg AS (
  SELECT probe_id, probe_name, unnest(list_distinct(list_transform(
           generate_series(1, length(probe_name) - 2),
           i -> substr(probe_name, i, 3)))) AS g
  FROM probes),
cand AS (
  SELECT DISTINCT p.probe_id, p.probe_name, c.s_suppkey, c.s_name
  FROM pg p JOIN cr c ON c.g = p.g),
blocked AS (
  SELECT count(*) AS n FROM cand WHERE s_suppkey = probe_id),
matched AS (
  SELECT count(*) AS n FROM cand
  WHERE s_suppkey = probe_id
    AND levenshtein(probe_name, s_name) <= 2)
SELECT CAST((SELECT count(*) FROM probes) AS BIGINT) AS n_probes,
       CAST((SELECT n FROM blocked) AS BIGINT) AS n_blocked,
       CAST((SELECT n FROM matched) AS BIGINT) AS n_matched,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT n FROM blocked) AS DOUBLE)
         / (SELECT count(*) FROM probes) AS blocking_recall,
       CAST((SELECT n FROM matched) AS DOUBLE)
         / (SELECT count(*) FROM probes) AS end2end_recall
""")
def join_fuzzy_recall(spark, sf_dir):
    """Truth-set recall for the fuzzy entity-resolution join — the
    measurement join_fuzzy_names' docstring argues in prose, made a
    dial the way dedup_lsh_recall / sim_ivf_recall are: every probe
    is derived from a KNOWN supplier (probe_id = its s_suppkey, edit
    distance exactly 1), so blocking_recall = the fraction of true
    matches the rare-gram blocking surfaces at df <= 50 (9/10 at
    sf0.01 — 'Supplier#000000000' is all-ubiquitous-grams), and
    end2end_recall adds the distance <= 2 verify (never drops a
    blocked truth pair; distance is 1). n_candidates is the cost side
    of the dial: raising the df threshold re-admits all-common-gram
    names at more candidate pairs. Same O(candidates) plan shapes as
    join_fuzzy_names; the five counts collapse to one row."""
    s = load(spark, sf_dir, "supplier")
    probes = s.filter(F.col("s_suppkey") % 10 == 0).select(
        F.col("s_suppkey").alias("probe_id"),
        F.concat(F.substring("s_name", 1, 2), F.lit("x"),
                 F.expr("substr(s_name, 4)")).alias("probe_name"))
    grams = F.expr("array_distinct(transform("
                   "sequence(1, length(s_name) - 2),"
                   " i -> substring(s_name, i, 3)))")
    cg = s.select("s_suppkey", "s_name", F.explode(grams).alias("g"))
    rare = (cg.groupBy("g")
            .agg(F.count_distinct("s_suppkey").alias("_df"))
            .filter(F.col("_df") <= 50).select("g"))
    cr = cg.join(rare, "g", "left_semi")
    pgrams = F.expr("array_distinct(transform("
                    "sequence(1, length(probe_name) - 2),"
                    " i -> substring(probe_name, i, 3)))")
    pg = probes.select("probe_id", "probe_name",
                       F.explode(pgrams).alias("g"))
    from ..operators import cache
    # persist the candidate frame: three counters (blocked, matched,
    # total) each re-ran the gram-blocking join (persist_audit)
    cand = cache.maybe_persist(
        pg.join(cr, "g")
        .select("probe_id", "probe_name", "s_suppkey", "s_name")
        .distinct())
    np_ = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    nb = (cand.filter(F.col("s_suppkey") == F.col("probe_id"))
          .agg(F.count(F.lit(1)).alias("n_blocked")))
    nm = (cand.filter((F.col("s_suppkey") == F.col("probe_id"))
                      & (F.levenshtein("probe_name", "s_name") <= 2))
          .agg(F.count(F.lit(1)).alias("n_matched")))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        np_.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nc))
        .select("n_probes", "n_blocked", "n_matched", "n_candidates",
                (F.col("n_blocked").cast("double")
                 / F.col("n_probes").cast("double"))
                .alias("blocking_recall"),
                (F.col("n_matched").cast("double")
                 / F.col("n_probes").cast("double"))
                .alias("end2end_recall"))
    )


@register("scan_jsonl_permissive", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY event_type
UNION ALL
SELECT '_corrupt', 7, 0
""")
def scan_jsonl_permissive(spark, sf_dir):
    """Semi-structured JSONL ingest with PERMISSIVE corruption
    handling — the schema-on-read path a log pipeline runs: events
    round-trip through JSON lines, seven deliberately malformed lines
    land in the same directory, and the read (explicit schema +
    _corrupt_record) yields every good row bit-identically (JSON
    shortest-repr doubles round-trip exactly) while quarantining bad
    lines as rows instead of killing the job — the same
    one-bad-record-must-not-kill-a-100 TB-job stance as the
    null-decoding Kafka codecs (DIVERGENCES.md #1). Corrupt rows
    surface as a counted '_corrupt' bucket; at scale the same column
    routes them to a quarantine sink. Schema is DECLARED — schema
    inference over JSON is a full extra pass at 100 TB."""
    base = _scratch("jsonl_")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    ev.write.json(f"{base}/in/good")
    bad = spark.createDataFrame(
        [(f'{{"event_id": {i}, "event_type": "x", "value": ',)
         for i in range(7)], "value string")
    bad.coalesce(1).write.text(f"{base}/in/bad")
    schema = ("event_id long, event_type string, value double, "
              "_corrupt_record string")
    raw = (spark.read.schema(schema)
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt_record")
           .json(f"{base}/in/*"))
    return (
        raw.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
            .otherwise(F.col("event_type")).alias("event_type"),
            F.when(F.col("_corrupt_record").isNotNull(), F.lit(0))
            .otherwise(_cents(F.col("value"))).alias("_c"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("_c").alias("value_cents"))
    )


@register("scan_csv_permissive", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY event_type
UNION ALL
SELECT '_corrupt', 5, 0
""")
def scan_csv_permissive(spark, sf_dir):
    """Delimited-text ingest with PERMISSIVE corruption handling — the
    CSV sibling of scan_jsonl_permissive, exercising the OTHER text
    parser (tokenizer + type coercion instead of JSON): events
    round-trip through CSV (Java shortest-repr doubles parse back
    bit-exactly), five malformed lines (excess columns / non-numeric
    value) land in the same directory and surface as a counted
    '_corrupt' bucket via columnNameOfCorruptRecord instead of
    killing the job. Schema DECLARED, header off — inference over
    CSV costs a full extra pass at 100 TB and type-guesses; the
    corrupt-record column is the quarantine-sink hook."""
    base = _scratch("csvp_")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    ev.write.option("header", "false").csv(f"{base}/in/good")
    bad = spark.createDataFrame(
        [(f"{i},x,not_a_number,extra,cols",) for i in range(5)],
        "value string")
    bad.coalesce(1).write.text(f"{base}/in/bad")
    schema = ("event_id long, event_type string, value double, "
              "_corrupt_record string")
    raw = (spark.read.schema(schema)
           .option("header", "false")
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt_record")
           .csv(f"{base}/in/*"))
    return (
        raw.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
            .otherwise(F.col("event_type")).alias("event_type"),
            F.when(F.col("_corrupt_record").isNotNull(), F.lit(0))
            .otherwise(_cents(F.col("value"))).alias("_c"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("_c").alias("value_cents"))
    )


@register("scan_schema_evolution", """
WITH e AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) % 100 AS q
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN day_idx >= 19738 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_quality,
       CAST(sum(CASE WHEN day_idx >= 19738 THEN q ELSE 0 END) AS BIGINT)
         AS quality_sum
FROM e GROUP BY event_type
""")
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across ingest batches — the lake reality a
    100 TB table lives with: early batches land WITHOUT a column
    (here `quality`), later batches add it, and one mergeSchema read
    unifies them — old rows surface the new column as NULL, no
    rewrite of petabytes of history. The entry writes the two
    generations (pre/post day 19738), reads the parent with
    mergeSchema=true, and aggregates with explicit NULL semantics
    (count of present values, coalesced sum) so the result is
    hash-identical to the oracle's CASE-on-day reconstruction.
    Scale note: mergeSchema's footer-merge cost is per-FILE at
    planning time — keep it off hot paths by declaring the unified
    schema once the evolution settles; this entry demonstrates the
    transition window works."""
    base = _scratch("schevo_")
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
        .cast("long").alias("day_idx"),
        (_cents(F.col("value")) % 100).alias("q"))
    (ev.filter(F.col("day_idx") < 19738)
     .select("event_type")
     .write.parquet(f"{base}/gen/batch1"))
    (ev.filter(F.col("day_idx") >= 19738)
     .select("event_type", F.col("q").alias("quality"))
     .write.parquet(f"{base}/gen/batch2"))
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(f"{base}/gen/*"))
    return (
        merged.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.count("quality").alias("n_with_quality"),
             F.sum(F.coalesce(F.col("quality"), F.lit(0)))
             .alias("quality_sum"))
    )


@register("scan_orc_roundtrip", f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents GROUP BY source
""")
def scan_orc_roundtrip(spark, sf_dir):
    """ORC round-trip — the second columnar lake format a Spark
    engine must speak (Hive-era tables are ORC; a migration pipeline
    reads both sides): write the documents table as
    snappy-compressed ORC, read it back, aggregate per source. The
    oracle computes the SAME aggregate from the canonical parquet, so
    a hash match proves the ORC writer/reader preserved every row,
    every string byte, and every null — format fidelity checked by
    value, not by row count. Scale note: ORC reads get the same
    vectorized reader + predicate pushdown machinery as parquet
    (spark.sql.orc.impl=native is the default); partitioning
    discipline transfers unchanged, so format choice is a
    compatibility decision, not a plan-shape one."""
    base = _scratch("orc_rt_")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars")
    docs.write.option("compression", "snappy").orc(f"{base}/docs")
    back = spark.read.orc(f"{base}/docs")
    return (back.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
                 F.sum(F.length("text").cast("long"))
                 .alias("sum_text_len")))


@register("events_anomaly_zscore", """
WITH c AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
  FROM events),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx
  FROM c GROUP BY event_type)
SELECT c.event_id, c.event_type,
       (CAST(s.n AS HUGEINT) * c.x - s.sx)
         * (CAST(s.n AS HUGEINT) * c.x - s.sx)
         > 9 * (CAST(s.n AS HUGEINT) * s.qx
                - CAST(s.sx AS HUGEINT) * s.sx) AS is_outlier
FROM c JOIN s ON s.event_type = c.event_type
""")
def events_anomaly_zscore(spark, sf_dir):
    """Per-type 3-sigma outlier flags with NO float ever formed: the
    z-test |x − μ| > 3σ is cross-multiplied by n² into
    (n·x − S)² > 9·(n·Q − S²) over integer-cents moments
    (S = Σx, Q = Σx²) — mean and variance never materialize, so the
    verdict is exact and engine-portable (Spark decimal(38) vs DuckDB
    HUGEINT, both exact integer domains; a float σ comparison could
    flip boundary rows between engines). Scale shape: the moment
    table is |event types| rows (one map-side-combined shuffle),
    broadcast back onto the fact — flagging is then a pure map; n=1
    groups degenerate to 0 > 0 = false in both engines."""
    ev = load(spark, sf_dir, "events")
    c = ev.select("event_id", "event_type",
                  _cents(F.col("value")).alias("x"))
    dec = lambda col: col.cast("decimal(38,0)")
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        # x^2 in the WIDE domain: a 1e9-unit value has x^2 ~ 1e22,
        # over int64 — the ANSI overflow the degenerate sweep caught
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("qx"))
    d = dec(F.col("n")) * dec(F.col("x")) - dec(F.col("sx"))
    rhs = (F.lit(9).cast("decimal(38,0)")
           * (dec(F.col("n")) * dec(F.col("qx"))
              - dec(F.col("sx")) * dec(F.col("sx"))))
    return (
        c.join(F.broadcast(s), "event_type")
        .select("event_id", "event_type", (d * d > rhs).alias("is_outlier"))
    )


@register("streaming_anomaly_zscore", ORACLES["events_anomaly_zscore"])
def streaming_anomaly_zscore(spark, sf_dir):
    """The z-score moment table maintained ON THE LIVE STREAMING
    RUNTIME: per-type (n, Σx, Σx²) is an incremental aggregation
    (complete mode, three integers per event type of state), so the
    anomaly threshold stays current as events arrive — the streaming
    half of drift/outlier monitoring. Flagging happens batch-side on
    the sunk moments with the same exact decimal(38) comparison and
    the SAME oracle as the batch twin: accumulating moments on a
    stream must lose nothing vs the batch scan."""
    raw = _events_stream(spark, sf_dir)
    mom_stream = (
        raw.select("event_type", _cents(F.col("value")).alias("x"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("x").alias("sx"),
             F.sum(F.col("x") * F.col("x")).alias("qx"))
    )
    s = _run_stream_to_table(spark, mom_stream, "zscore_moments",
                             mode="complete")
    ev = load(spark, sf_dir, "events")
    c = ev.select("event_id", "event_type",
                  _cents(F.col("value")).alias("x"))
    dec = lambda col: col.cast("decimal(38,0)")
    d = dec(F.col("n")) * dec(F.col("x")) - dec(F.col("sx"))
    rhs = (F.lit(9).cast("decimal(38,0)")
           * (dec(F.col("n")) * dec(F.col("qx"))
              - dec(F.col("sx")) * dec(F.col("sx"))))
    return (
        c.join(F.broadcast(s), "event_type")
        .select("event_id", "event_type", (d * d > rhs).alias("is_outlier"))
    )


@register("tpch_cube", """
SELECT r.r_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                           * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY CUBE (r.r_name, year(o.o_orderdate))
""")
def tpch_cube(spark, sf_dir):
    """Revenue by CUBE(region, order year) — ALL four grouping sets
    (region×year, region, year, grand total) in one pass. CUBE is the
    grouping-sets shape ROLLUP doesn't cover: the (NULL, year)
    cross-slice exists here but not in a rollup. Catalyst's Expand
    replicates each joined row per grouping set before ONE shuffle —
    at 100 TB that is one aggregation instead of four, and the
    replication factor (4×) is paid map-side where it compresses into
    partial aggregates. Dimensions broadcast; exact cents."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name",
                F.year("o_orderdate").cast("long").alias("o_year"),
                _cents(F.col("l_extendedprice")
                       * (1.0 - F.col("l_discount"))).alias("_rc"))
        .cube("r_name", "o_year")
        .agg((F.sum("_rc").cast("double") / 100.0).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register("events_type_pivot", """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type NOT IN ('click', 'purchase', 'view')
                THEN 1 ELSE 0 END) AS BIGINT) AS other
FROM events
GROUP BY user_id
""")
def events_type_pivot(spark, sf_dir):
    """Per-user event-type PIVOT — the wide activity-matrix shape
    (one row per user, one column per event type) that feature
    pipelines feed to trainers. Uses the DataFrame pivot() API with
    the pivot values DECLARED, which matters at scale: an undeclared
    pivot first runs a distinct scan over the pivot column to infer
    values (an extra job over the full fact) and can explode the
    schema on high-cardinality columns; declared values compile
    straight to conditional aggregates — one shuffle on user_id,
    map-side partials, same plan as the hand-written CASE form the
    oracle uses. Unknown types fold into 'other' so the declared
    list is total."""
    ev = load(spark, sf_dir, "events")
    known = ("click", "purchase", "view")
    typed = ev.select(
        "user_id",
        F.when(F.col("event_type").isin(*known), F.col("event_type"))
        .otherwise(F.lit("other")).alias("_t"))
    return (
        typed.groupBy("user_id")
        .pivot("_t", [*known, "other"])
        .agg(F.count(F.lit(1)))
        .select("user_id",
                *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                  for t in (*known, "other")])
    )


@register("tpch_q7ish", """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                           * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE cn.n_nationkey <> sn.n_nationkey
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY cn.n_name, sn.n_name, CAST(EXTRACT(year FROM l.l_shipdate)
                                    AS INTEGER)
""")
def tpch_q7ish(spark, sf_dir):
    """TPC-H Q7-style cross-nation volume shipping: the five-way
    snowflake join with a cross-nation inequality. TRUE dimensions
    (nation twice under distinct aliases — 25 rows at any SF) are
    forced broadcasts; supplier is SF-scaled (10k x SF rows, ~1e9 at
    100 TB) so it is left to Catalyst/AQE like orders and customer —
    key-partitioned shuffle joins on the cluster, broadcast at bench SF
    where they fit. Exact-cents revenue."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("_cnk"),
                  F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("_snk"),
                  F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk"))
        .filter(F.col("_cnk") != F.col("_snk"))
        .groupBy("cust_nation", "supp_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg((F.sum(_cents(F.col("l_extendedprice")
                           * (1.0 - F.col("l_discount"))))
              .cast("double") / 100.0).alias("revenue"))
    )


@register("tpch_q13ish", """
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""")
def tpch_q13ish(spark, sf_dir):
    """TPC-H Q13-style customer order-count distribution: LEFT OUTER
    join with the filter INSIDE the join condition (customers with zero
    qualifying orders must still appear with c_count = 0), then a
    second aggregation over the first — the double-grouping histogram
    shape. First shuffle keyed by custkey, second by the (tiny)
    count domain."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


@register("tpch_q14ish", """
SELECT CAST(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(floor(l.l_extendedprice
                                        * (1.0 - l.l_discount)
                                        * 100.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS DOUBLE)
       / CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-07-01'
""")
def tpch_q14ish(spark, sf_dir):
    """TPC-H Q14-style promotion effect: conditional revenue share in a
    single scalar aggregate — both numerator and denominator as exact
    integer cents in ONE partial-agg pass over the date-pruned scan
    (pushdown verified), broadcast part join, final division the only
    float op."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp")))
    p = load(spark, sf_dir, "part")
    cents = _cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg((F.lit(100.0)
              * F.sum(F.when(F.col("p_type") == "PROMO", cents)
                      .otherwise(0)).cast("double")
              / F.sum(cents).cast("double")).alias("promo_revenue_pct"))
    )


@register("tpch_q19ish", """
SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                           * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 35)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 50)
""")
def tpch_q19ish(spark, sf_dir):
    """TPC-H Q19-style disjunctive predicate join (discounted revenue
    over three OR'd brand/size/quantity bands): the classic test that
    the optimizer keeps the join an equi-join on partkey and evaluates
    the disjunction as a post-join filter with the single-side
    conjuncts (brand/size, quantity) pushed beneath it, instead of
    falling back to a nested-loop theta join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#7")
           & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#13")
           & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(band).agg(
        (F.sum(_cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))))
         .cast("double") / 100.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@register("tpch_q2ish", """
WITH eursupp AS (
  SELECT s.s_suppkey, s.s_name, n.n_name,
         CAST(floor(s.s_acctbal * 100.0 + 0.5) AS BIGINT) AS cost_cents
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'),
ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
pscost AS (
  SELECT ps.l_partkey, e.s_suppkey, e.s_name, e.n_name, e.cost_cents
  FROM ps JOIN eursupp e ON e.s_suppkey = ps.l_suppkey),
pmin AS (SELECT l_partkey, min(cost_cents) AS min_cents
         FROM pscost GROUP BY l_partkey)
SELECT p.p_partkey, p.p_name, c.s_name, c.n_name,
       CAST(c.cost_cents AS DOUBLE) / 100.0 AS s_acctbal
FROM pscost c
JOIN pmin m ON m.l_partkey = c.l_partkey AND c.cost_cents = m.min_cents
JOIN part p ON p.p_partkey = c.l_partkey
WHERE p.p_type = 'SMALL' AND p.p_size < 15
""")
def tpch_q2ish(spark, sf_dir):
    """TPC-H Q2-style correlated minimum-cost supplier. The reference
    schema has no partsupp, so the part-supplier relation is DISTINCT
    (l_partkey, l_suppkey) from lineitem and "supply cost" is the
    supplier's account balance — preserving Q2's defining shape: the
    inner MIN is correlated over the SAME region-restricted supplier
    set as the outer query, decorrelated into a per-part aggregate
    joined back on (part, min). nation/region are TRUE dimensions
    (forced broadcast); supplier/part are SF-scaled so their joins are
    left to AQE; the (part,supp) dedup and per-part min shuffle on
    partkey. Exact integer cents keep the min/equality portable."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") < 15))
    eursupp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name",
                _cents(F.col("s_acctbal")).alias("cost_cents"))
    )
    pscost = (
        li.select("l_partkey", "l_suppkey").distinct()
        .join(eursupp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "s_name", "n_name", "cost_cents")
    )
    pmin = (pscost.groupBy("l_partkey")
            .agg(F.min("cost_cents").alias("min_cents"))
            .withColumnRenamed("l_partkey", "_pk"))
    return (
        pscost.join(pmin, (pscost.l_partkey == pmin._pk)
                    & (pscost.cost_cents == pmin.min_cents))
        .join(p, pscost.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "s_name", "n_name",
                (F.col("cost_cents").cast("double") / 100.0)
                .alias("s_acctbal"))
    )


@register("tpch_q15ish", """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                        + 0.5) AS BIGINT)) AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey),
mx AS (SELECT max(rev_cents) AS m FROM revenue)
SELECT s.s_suppkey, s.s_name,
       CAST(r.rev_cents AS DOUBLE) / 100.0 AS total_revenue
FROM supplier s
JOIN revenue r ON r.l_suppkey = s.s_suppkey
CROSS JOIN mx
WHERE r.rev_cents = mx.m
""")
def tpch_q15ish(spark, sf_dir):
    """TPC-H Q15 top supplier: the revenue "view" (per-supplier
    discounted revenue over one shipping year) consumed twice — once
    for the scalar MAX, once to select the supplier(s) achieving it.
    One fact shuffle keyed by suppkey builds the view; the scalar max
    is a single-row broadcast cross join (never a second fact scan);
    supplier attaches by broadcast at bench SF / AQE on the cluster.
    Ties surface as multiple rows, exactly as in the spec's view
    formulation. Integer-cents revenue makes the max/equality exact."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    revenue = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_cents(F.col("l_extendedprice")
                          * (1.0 - F.col("l_discount"))))
             .alias("rev_cents"))
    )
    mx = revenue.agg(F.max("rev_cents").alias("m"))
    s = load(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("m"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name",
                (F.col("rev_cents").cast("double") / 100.0)
                .alias("total_revenue"))
    )


@register("tpch_q20ish", """
WITH qty AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS q_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey),
hot AS (
  SELECT DISTINCT q.l_suppkey
  FROM qty q JOIN part p ON p.p_partkey = q.l_partkey
  WHERE p.p_name LIKE 'small%' AND q.q_cents > 3000)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'AMERICA'
  AND EXISTS (SELECT 1 FROM hot h WHERE h.l_suppkey = s.s_suppkey)
""")
def tpch_q20ish(spark, sf_dir):
    """TPC-H Q20-style EXISTS semi-join chain: AMERICA suppliers who
    shipped a meaningful volume (>30 qty, exact cents) of 'small%'
    parts in 1997. Q20's nested shape — an aggregate-over-fact
    subquery, part-name filter, then an EXISTS into suppliers — is
    kept; partsupp's availqty threshold becomes a shipped-quantity
    threshold over the same (part,supp) grain. The Spark side is a
    genuine LEFT SEMI join (no projection of the inner), the per-pair
    aggregate shuffles on (partkey, suppkey), the part filter prunes
    before the join, and the distinct supplier set is broadcast-sized
    (bounded by |supplier|) so the semi probe is map-side."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    qty = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("q_cents"))
    )
    hot = (
        qty.join(p, qty.l_partkey == p.p_partkey)
        .filter(F.col("q_cents") > 3000)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(hot, s.s_suppkey == hot.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@register("tpch_q21ish", """
WITH l AS (
  SELECT li.l_orderkey, li.l_suppkey, li.l_returnflag
  FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
  WHERE o.o_orderstatus = 'F')
SELECT s.s_suppkey, s.s_name,
       CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM l l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_suppkey, s.s_name
""")
def tpch_q21ish(spark, sf_dir):
    """TPC-H Q21-style suppliers-who-kept-orders-waiting: within
    finished orders, suppliers whose line was RETURNED while some
    other supplier also participated (EXISTS — the order could have
    been sourced elsewhere) but no other supplier's line was returned
    (NOT EXISTS — this supplier alone is to blame). The reference
    schema lacks commit/receipt dates, so "late" is l_returnflag='R';
    the defining correlated EXISTS + NOT EXISTS pair on the same fact
    table survives intact. Spark-side these are a LEFT SEMI and a LEFT
    ANTI join, each equi-keyed on l_orderkey with the supplier
    inequality as a residual join predicate — hash-partitioned probes,
    never a nested loop; orders' status filter prunes the fact before
    any join. numwait counts DISTINCT orders per supplier."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    l = (li.join(o, li.l_orderkey == o.o_orderkey)
         .select("l_orderkey", "l_suppkey", "l_returnflag"))
    l1 = l.filter(F.col("l_returnflag") == "R")
    l2 = l.select(F.col("l_orderkey").alias("_ok2"),
                  F.col("l_suppkey").alias("_sk2"))
    l3 = (l.filter(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("_ok3"),
                  F.col("l_suppkey").alias("_sk3")))
    s = load(spark, sf_dir, "supplier")
    waiting = (
        l1.join(l2, (l1.l_orderkey == F.col("_ok2"))
                & (l1.l_suppkey != F.col("_sk2")), "left_semi")
        .join(l3, (l1.l_orderkey == F.col("_ok3"))
              & (l1.l_suppkey != F.col("_sk3")), "left_anti")
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
    )


@register("tpch_q8ish", """
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0
                    + 0.5) AS BIGINT) AS vol_cents,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'SMALL'
    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-01-01')
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_cents
                     ELSE 0 END) AS DOUBLE)
         / CAST(sum(vol_cents) AS DOUBLE) AS mkt_share
FROM vol
GROUP BY o_year
""")
def tpch_q8ish(spark, sf_dir):
    """TPC-H Q8 national market share: within the ASIA market (the
    CUSTOMER's region) for SMALL-type parts over two order years, the
    share of revenue supplied by NATION_3. Q8's defining shape — a
    two-branch conditional aggregate (nation revenue / all revenue)
    over a snowflake reaching nation twice, once through customer and
    once through supplier — is intact. nation/region are TRUE
    dimensions (forced broadcast, both probes map-side);
    customer/supplier/part are SF-scaled and left to Catalyst/AQE;
    the single fact shuffle is the final year grouping. The share
    divides two exact integer-cent sums, so the only float op is one
    final division — identical in both engines."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    cn = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"),
        F.col("n_regionkey").alias("_cn_region"))
    sn = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("supp_nation"))
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("_cn_key"))
        .join(F.broadcast(r), F.col("_cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("_sn_key"))
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _cents(F.col("l_extendedprice")
                   * (1.0 - F.col("l_discount"))).alias("vol_cents"),
            "supp_nation")
    )
    return (
        vol.groupBy("o_year")
        .agg((F.sum(F.when(F.col("supp_nation") == "NATION_3",
                           F.col("vol_cents")).otherwise(F.lit(0)))
              .cast("double")
              / F.sum("vol_cents").cast("double")).alias("mkt_share"))
    )


@register("tpch_q9ish", """
SELECT sn.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                           * 100.0 + 0.5) AS BIGINT)
                - CAST(floor(p.p_retailprice * l.l_quantity * 0.1
                             * 100.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS sum_profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_name LIKE '%red%'
GROUP BY sn.n_name, year(o.o_orderdate)
""")
def tpch_q9ish(spark, sf_dir):
    """TPC-H Q9 product-type profit: per supplier nation per order
    year, profit on '%red%' parts. The reference schema has no
    partsupp, so supply cost is a retail-price proxy
    (p_retailprice * l_quantity * 0.1) — Q9's shape survives: a
    leading-wildcard LIKE that can never push into a scan, a
    fact-to-fact lineitem⋈orders join, and profit as a DIFFERENCE of
    two monetary terms (the one TPC-H aggregate that mixes revenue
    and cost in a single sum). Both terms are floored to integer
    cents BEFORE subtraction and summation — identical float product
    order in both engines, then exact integer arithmetic — so the
    grouped sums are bit-equal. nation broadcasts; part prunes on the
    LIKE before its join; the fact shuffles once on (nation, year)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    sn = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("nation"))
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    profit = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("_sn_key"))
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            (_cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount")))
             - _cents(F.col("p_retailprice") * F.col("l_quantity")
                      * F.lit(0.1))).alias("profit_cents"))
    )
    return (
        profit.groupBy("nation", "o_year")
        .agg((F.sum("profit_cents").cast("double") / 100.0)
             .alias("sum_profit"))
    )


@register("tpch_q10ish", """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
         sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                        * 100.0 + 0.5) AS BIGINT)) AS rev_cents
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1996-10-01'
    AND o.o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal)
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue
FROM rev
ORDER BY rev_cents DESC, c_custkey
LIMIT 20
""")
def tpch_q10ish(spark, sf_dir):
    """TPC-H Q10 returned-item reporting: the 20 customers with the
    most revenue lost to returns over one order quarter. The defining
    shape — fact⋈fact⋈dimension rollup to customer grain, then a
    global top-N — is intact. The quarter filter pushes into the
    orders scan and the returnflag filter into lineitem's; nation is
    a TRUE dimension (broadcast); customer attaches by AQE. Revenue
    accumulates in exact integer cents, and the top-20 breaks ties on
    c_custkey so the selected SET is deterministic cross-engine (the
    gate's compare is order-insensitive, so only set identity
    matters). The global sort is a 20-row TakeOrdered, never a full
    exchange of the grouped aggregate."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(_cents(F.col("l_extendedprice")
                          * (1.0 - F.col("l_discount"))))
             .alias("rev_cents"))
    )
    return (
        rev.orderBy(F.col("rev_cents").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "c_acctbal",
                (F.col("rev_cents").cast("double") / 100.0)
                .alias("revenue"))
    )


@register("tpch_q11ish", """
WITH val AS (
  SELECT l.l_partkey,
         sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT))
           AS val_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY l.l_partkey),
tot AS (SELECT sum(val_cents) AS t, count(*) AS np FROM val)
SELECT v.l_partkey AS p_partkey,
       CAST(v.val_cents AS DOUBLE) / 100.0 AS value
FROM val v CROSS JOIN tot
WHERE v.val_cents * tot.np > 2 * tot.t
""")
def tpch_q11ish(spark, sf_dir):
    """TPC-H Q11 important stock: parts whose shipped value from
    NATION_3 suppliers exceeds twice the MEAN per-part value. Q11's
    defining HAVING-against-a-scalar-subquery shape is decorrelated
    the canonical way: the per-part aggregate is computed ONCE, the
    grand total+count is a single-row broadcast cross join over that
    same aggregate (one fact scan, not two). The spec's FRACTION
    threshold is 0.0001/SF — i.e. deliberately scale-invariant — so
    the 2×-mean form (val·np > 2·total) keeps both the shape and the
    invariance without the engine knowing SF, and compares in the
    INTEGER domain (exact, no float epsilon; the product stays under
    2^63 until value·parts exceeds ~9e18 cent-units). nation
    broadcasts into supplier; the supplier semi-restriction prunes
    the fact before its one shuffle on l_partkey."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).alias("val_cents"))
    )
    tot = val.agg(F.sum("val_cents").alias("t"),
                  F.count(F.lit(1)).alias("np"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("val_cents") * F.col("np") > F.lit(2) * F.col("t"))
        .select(F.col("l_partkey").alias("p_partkey"),
                (F.col("val_cents").cast("double") / 100.0).alias("value"))
    )


@register("streaming_w6_session", ORACLES["w6_session_window"])
def streaming_w6_session(spark, sf_dir):
    """W6 session windows (5-minute gap) through the LIVE streaming
    runtime: Spark's native session_window aggregation merges and
    extends per-key session state in the state store as events arrive —
    a third streaming engine path (session-merging aggregation) beyond
    the arbitrary-state operator and the fixed-window aggregation
    already under the gate. COMPLETE output mode so trailing sessions
    (whose gap timeout never elapses before the source drains) are
    emitted too; same oracle as the batch twin w6_session_window."""
    ev = enrich_events(_events_stream(spark, sf_dir))
    out = (
        ev.withWatermark("ts", "10 milliseconds")
        .groupBy(F.session_window("ts", "5 minutes").alias("_w"),
                 "trader")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("_w.start")).alias("session_start_us"),
            F.unix_micros(F.col("_w.end")).alias("session_end_us"),
            "trader", "n_events", "sum_value",
        )
    )
    return _run_stream_to_table(spark, out, "w6_stream",
                                mode="complete")


@register("streaming_w7_sliding", ORACLES["w7_sliding_window"])
def streaming_w7_sliding(spark, sf_dir):
    """W7 hopping windows through the LIVE streaming runtime: Spark's
    native windowed aggregation with a slide (2-hour windows every
    hour) — each event feeds size/slide windows' partial aggregates in
    the state store. Complete output mode for the same reason as the
    session twin (trailing windows whose watermark never advances past
    them still emit); hash-checked against the SAME oracle as the
    batch twin w7_sliding_window."""
    ev = enrich_events(_events_stream(spark, sf_dir))
    out = (
        ev.withWatermark("ts", "10 milliseconds")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("_w"), "team")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_cents(F.col("value"))).cast("double") / 100.0)
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("_w.start")).alias("window_start_us"),
            "team", "n_events", "sum_value",
        )
    )
    return _run_stream_to_table(spark, out, "w7_stream",
                                mode="complete")


@register("streaming_join_interval", f"""
WITH {EV_SQL},
c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      FROM ev WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
             value
      FROM ev WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id, c.user_id,
       p.p_us - c.c_us AS lag_us,
       p.value AS purchase_value
FROM c JOIN p ON p.user_id = c.user_id
             AND p.p_us >= c.c_us
             AND p.p_us <= c.c_us + 3600000000
""")
def streaming_join_interval(spark, sf_dir, parts: str = "4"):
    """STREAM-STREAM interval join on the live runtime: each click pairs
    with the same USER's purchases in the following hour. Both sides
    carry watermarks and the join condition bounds event time on both
    ends, so Spark's symmetric-hash join state is EVICTABLE — per-key
    state is O(events within the interval), not O(stream), which is
    what makes the operator viable on an unbounded 100 TB stream. A
    fourth distinct streaming engine path under the gate (after
    arbitrary state, windowed aggregation, and session merging); the
    oracle is the identical batch interval join in microseconds.

    SCALE NOTE (learned the hard way in round 5): the equality key MUST
    be high-cardinality. Spark's SymmetricHashJoinStateManager stores
    rows per equality key and linearly scans the other side's stored
    rows for every input row — the time bounds only EVICT state, they
    don't index it, so per-key work is quadratic in rows-per-key. The
    round-4 form keyed on the 20-value ``trader`` dimension benched
    5.63 s at sf0.1 (the worst headline query); this ``user_id`` rekey
    (~1.5 k keys at sf0.1, millions in production) measured 4.78 s on
    the round-6 testdata, and the gap widens with data volume since
    rows-per-key grows 75× slower. Verified against the 33-row batch
    oracle at sf0.01 (CORRECTNESS r6)."""
    clicks = enrich_events(_events_stream(spark, sf_dir)).filter(
        F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 milliseconds")
    purchases = enrich_events(_events_stream(spark, sf_dir)).filter(
        F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", "10 milliseconds")
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id", "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
        "purchase_value",
    )
    # parts=4 default: a stream-stream join instantiates FOUR state-store
    # providers per side per partition; at single-file bench scale the
    # fixed per-store cost dominates (sf0.1 sweep: 16 parts 7.6 s,
    # 4 parts 3.1 s). Cluster-scale sizing comes from _STREAM_PARTS; the
    # kwarg exists so the partition-invariance test can sweep it.
    return _run_stream_to_table(spark, joined, "sj_stream", parts=parts)


@register("streaming_join_left_outer", f"""
WITH {EV_SQL},
c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      FROM ev WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
             value
      FROM ev WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id, c.user_id,
       p.p_us - c.c_us AS lag_us,
       p.value AS purchase_value
FROM c LEFT JOIN p ON p.user_id = c.user_id
                  AND p.p_us >= c.c_us
                  AND p.p_us <= c.c_us + 3600000000
""")
def streaming_join_left_outer(spark, sf_dir, parts: str = "4",
                              max_files: int | None = None):
    """STREAM-STREAM LEFT OUTER interval join on the live runtime:
    every click emits — paired with the same user's purchases in the
    following hour, or once with NULLs when the watermark proves no
    purchase can still arrive. The null-emission path is pure
    event-time state eviction (no timer, no batch fallback): Spark
    holds each unmatched click until the global watermark passes its
    join upper bound, then flushes it from the no-data micro-batch.

    A finite source would strand the final hour's unmatched clicks in
    state forever (the watermark stops 10 ms shy of max event time),
    so the source is STAGED with a far-future SENTINEL row pair (+3
    days, user_id -1, one click + one purchase) whose file mtime is
    strictly NEWEST: the file source batches oldest-mtime-first, so
    under ANY maxFilesPerTrigger / file split the sentinel lands in
    the FINAL micro-batch — it cannot advance the global watermark
    past real events in later batches (the round-12 single-file
    precondition, now gone; see ``_staged_events_with_sentinel``).
    After the sentinel batch the global watermark clears every real
    row's bound and the no-data batch flushes all unmatched clicks;
    the oracle is then the plain relational LEFT JOIN — no watermark
    arithmetic leaks into the correctness contract. Sentinel-derived
    rows are dropped by the user_id >= 0 filter on the SUNK table
    (in-plan, the filter is pushed below the left watermark node and
    kills the lift — the round-8 finding); the max-ts probe is a
    scalar batch aggregate, not a data collect. Real rows out of
    time order ACROSS batches remain governed by the standard
    watermark contract (disorder bounded by the 10 ms delay — the
    inherent event-time streaming deal, not this entry's); time-split
    files, the normal arrival layout at scale, satisfy it. Same
    state-scalability contract as streaming_join_interval:
    high-cardinality equality key, watermark-evictable O(interval)
    per-key state. ``max_files`` caps files per micro-batch so tests
    can force genuine multi-batch execution."""
    max_us = load(spark, sf_dir, "events").agg(
        F.max(F.unix_micros("ts"))).collect()[0][0]
    sent_us = max_us + 3 * 86400000000
    raw = _staged_events_with_sentinel(
        spark, sf_dir, sent_us, max_files=max_files).select(
        "event_id", "ts", "user_id", "event_type", "value")
    aug = raw
    clicks = aug.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 milliseconds")
    purchases = aug.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", "10 milliseconds")
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "click_id", "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
        "purchase_value",
    )
    # The sentinel filter runs on the SUNK table, not in the streaming
    # plan: a user_id >= 0 filter inside the plan is pushed below the
    # LEFT side's watermark node (legal for left outer), which silently
    # kills the sentinel click before it can lift the click-side
    # watermark — the global watermark then stalls at the real click
    # max and the final unmatched click never flushes (observed:
    # 2005/2006 rows, eventTime.max = real max). Batch-side, the same
    # filter is just a scan predicate.
    sunk = _run_stream_to_table(spark, joined, "sjlo_stream", parts=parts)
    return sunk.filter(F.col("user_id") >= 0)


# ===========================================================================
# Sketches (round 7): portable HLL + broadcast-Bloom prefilter + trigram
# surprisal — the cardinality / semi-join-reduction / LM-quality tools a
# 100 TB curation pipeline runs, each bit-checkable against DuckDB
# because they ride the portable md5 hash family instead of
# engine-private hashing.
# ===========================================================================

from ..functions import sketches as sk  # noqa: E402

@register("sketch_hll_users", f"""
WITH _exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
),
_hll AS (
{sk.sql_hll_distinct("SELECT event_type, user_id FROM events",
                     ["event_type"], "user_id")}
)
SELECT _hll.event_type, _hll.hll_est, _hll.hll_empty_buckets,
       _exact.exact_distinct
FROM _hll JOIN _exact ON _exact.event_type = _hll.event_type
""")
def sketch_hll_users(spark, sf_dir):
    """Distinct users per event_type via a portable 64-register
    HyperLogLog (Flajolet 2007), joined with the exact count so the
    estimation error is part of the checked result. At 100 TB the
    register table IS the rollup currency: m rows per group, mergeable
    across days/partitions by re-maxing — no count-distinct re-shuffle
    of raw ids, ever. The indicator sum stays in int64 so the oracle
    match is exact (see functions/sketches.py)."""
    ev = load(spark, sf_dir, "events")
    hll = sk.hll_distinct(ev, ["event_type"], F.col("user_id"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    return hll.join(exact, "event_type")


@register("join_bloom_prefilter", f"""
WITH
{sk.sql_bloom_filter(
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
    "c_custkey",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    "o_custkey")},
_members AS (
  SELECT DISTINCT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING'
)
SELECT (m.c_custkey IS NOT NULL) AS is_true_member,
       count(*) AS n_orders,
       CAST(sum({SQL_CENTS.format(x='p.o_totalprice')}) AS BIGINT)
         AS total_cents
FROM _bloom_pass p LEFT JOIN _members m ON m.c_custkey = p.o_custkey
GROUP BY 1
""")
def join_bloom_prefilter(spark, sf_dir):
    """Broadcast-Bloom semi-join reduction: a 4092-bit k=3 Bloom built
    over BUILDING-segment customers prefilters the orders fact table
    map-side BEFORE any join shuffle — at 100 TB this is the difference
    between shuffling the whole fact table and shuffling ~the matching
    fraction (Spark's runtime bloomFilter optimization, made explicit
    and portable). The checked result groups the surviving rows into
    true members vs false positives with exact-cents totals, so a
    single wrong bitmap bit flips the hash."""
    cust = load(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING")
    # Runtime-filter materialization: the bitmap collapses to a
    # CONSTANT 66-long word array (bits/62 — independent of build-side
    # cardinality), collected once and inlined as a plan literal. This
    # is a scalar model collect, not a data collect — and it removes
    # the BroadcastExchange + nested-loop probe join that cost ~1.4 s
    # of this entry's 2.2 s at sf0.1 (round-9 isolate profile; the
    # r8 bench regression was this machinery, not the bitmap build).
    words = sk.bloom_bitmap(building, F.col("c_custkey")).collect()[0][0]
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    passed = sk.bloom_filter_literal(orders, F.col("o_custkey"), words)
    members = building.select("c_custkey").distinct()
    return (
        passed.join(F.broadcast(members),
                    passed.o_custkey == members.c_custkey, "left")
        .groupBy(F.col("c_custkey").isNotNull().alias("is_true_member"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"))
    )


@register("streaming_sketch_hll", ORACLES["sketch_hll_users"])
def streaming_sketch_hll(spark, sf_dir):
    """The HLL register table maintained ON THE LIVE STREAMING RUNTIME
    — per-(event_type, bucket) max-rho is an incremental aggregation,
    so the sketch stays current as events arrive (complete output mode;
    per-bucket state is one int, bounded by groups x m). The batch
    finalize collapses the sunk registers into the same estimate as
    sketch_hll_users and is checked against the SAME oracle — register
    maintenance on a stream must lose nothing vs the batch scan. This
    is exactly how a production pipeline keeps a running cardinality
    dashboard without ever re-shuffling raw ids."""
    raw = _events_stream(spark, sf_dir)
    regs_stream = sk.hll_registers(raw, ["event_type"], F.col("user_id"))
    regs = _run_stream_to_table(spark, regs_stream, "hll_regs",
                                mode="complete")
    hll = sk.hll_finalize(regs, ["event_type"])
    exact = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    return hll.join(exact, "event_type")


@register("sketch_cms_user_counts", f"""
WITH {{cms}}
, _exact AS (
  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id
)
SELECT e._key AS user_id, e.cms_est, coalesce(x.exact_cnt, 0) AS exact_cnt
FROM _cms_out e LEFT JOIN _exact x ON x.user_id = e._key
""".format(cms="_cms_out AS (" + sk.sql_cms_estimate(
    "SELECT user_id FROM events", "user_id",
    "SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0",
    "user_id") + ")"))
def sketch_cms_user_counts(spark, sf_dir):
    """Per-user event frequencies via a count-min sketch (Cormode &
    Muthukrishnan 2005) probed for every 7th user, joined with exact
    counts so the over-estimate property is part of the checked result.
    Like the HLL registers, the d x w counter table is the mergeable
    100 TB frequency currency: constant size, union by slot-wise sum,
    broadcastable to probes — heavy-hitter monitoring without a
    per-key shuffle of the stream. All-integer, so oracle-exact by
    construction."""
    ev = load(spark, sf_dir, "events")
    counters = sk.cms_counters(ev, F.col("user_id"))
    probes = ev.filter(F.col("user_id") % 7 == 0) \
        .select("user_id").distinct()
    est = sk.cms_estimate(counters, probes, F.col("user_id"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, est._key == exact.user_id, "left")
        .select(F.col("_key").alias("user_id"), "cms_est",
                F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"))
    )


@register("sketch_quantile_hist",
          sk.sql_qhist_quantiles(
              "SELECT value FROM events WHERE value IS NOT NULL",
              "value"))
def sketch_quantile_hist(spark, sf_dir):
    """Mergeable quantile-histogram sketch over event values: p50/p90/
    p99 estimated from an equi-width integer-cents bin table — the
    sketch-family percentile currency (exact ranks need a sort; the
    bin table is one bounded groupBy that unions across partitions/
    days by summing, like HLL registers re-max and CMS counters sum).
    The estimate is the lower edge of the first bin reaching rank
    ceil(p·n/100) — deterministic integer arithmetic, oracle-exact,
    with a hard one-bin-width error bound against the true type-1
    quantile (pinned by a pytest golden)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return sk.qhist_quantiles(sk.qhist_bins(ev, F.col("value")))


@register("sketch_kmv_distinct", f"""
WITH _kmv AS (
{sk.sql_kmv_distinct("SELECT event_type, user_id FROM events",
                     ["event_type"], "user_id")}
),
_exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT _kmv.event_type, _kmv.kmv_k_used, _kmv.kmv_kth_hash,
       _kmv.kmv_est, _exact.exact_distinct
FROM _kmv JOIN _exact ON _exact.event_type = _kmv.event_type
""")
def sketch_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch per event type —
    the third cardinality currency next to HLL and exact count
    (Bar-Yossef 2002; Beyer 2007 estimator). The sketch is the k=64
    smallest distinct 60-bit hashes per group: unlike HLL registers it
    unions AND intersects (Jaccard over merged bottom-k — the Theta-
    sketch trick), at the price of k words of state instead of m
    6-bit registers. Built scale-safe: one distinct shuffle on
    (group, hash) — the same grain HLL pays — then bottom-k per
    post-shuffle partition (<= k rows survive per partition, no global
    sort), then bottom-k of the k*P survivors. Estimator is two int64
    floor-divisions, zero floats; groups with < k distinct hashes are
    exact by construction. Joined against the exact count as the
    self-audit (error within 1/sqrt(k-2) is pinned by a pytest
    golden + a hypothesis merge-property test)."""
    ev = load(spark, sf_dir, "events")
    mins = sk.kmv_bottomk(ev, ["event_type"], F.col("user_id"))
    est = sk.kmv_estimate(mins, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    return est.join(exact, "event_type")


@register("sketch_hll_daily_merge", f"""
WITH _hm AS (
{sk.sql_hll_distinct("SELECT 1 AS g, user_id FROM events", ["g"],
                     "user_id")}
)
SELECT _hm.hll_est, _hm.hll_empty_buckets,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
         AS exact_distinct,
       (SELECT CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
        FROM events) AS n_days
FROM _hm
""")
def sketch_hll_daily_merge(spark, sf_dir):
    """The HLL union property as a QUERY, not just a test: registers
    built independently PER DAY (the shard grain a 100 TB pipeline
    materializes — one sketch per partition/day, stored tiny), then
    merged by per-bucket re-max into the month's distinct-user
    estimate. The oracle computes the whole-corpus sketch directly in
    one pass: merge-of-shards ≡ sketch-of-union must hold register-
    for-register, so the two paths agree BIT-EXACTLY or the gate
    fails — this is the contract that lets a cluster maintain daily
    sketches and answer any date-range cardinality by merging, never
    rescanning. Costs one (day × 64-bucket)-bounded shuffle + one
    64-row re-max."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / F.lit(86400000000.0)).cast("long")
    regs_daily = sk.hll_registers(
        ev.withColumn("_day", day), ["_day"], F.col("user_id"))
    merged = (regs_daily.groupBy("_bucket")
              .agg(F.max("_M").alias("_M"))
              .withColumn("_g", F.lit(1)))
    est = sk.hll_finalize(merged, ["_g"]).drop("_g")
    exact = ev.agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.countDistinct(day).alias("n_days"))
    return est.crossJoin(exact)


@register("streaming_sketch_qhist",
          sk.sql_qhist_quantiles(
              "SELECT value FROM events WHERE value IS NOT NULL",
              "value"))
def streaming_sketch_qhist(spark, sf_dir):
    """The quantile-histogram bin table maintained ON THE LIVE
    STREAMING RUNTIME: per-bin counting is an incremental aggregation
    (complete mode, one integer per active bin of state), so latency
    percentiles stay current as events arrive — the streaming half of
    SLO monitoring. Finalization (cumulative rank pick) happens
    batch-side on the sunk bins, checked against the SAME oracle as
    the batch twin: binning on a stream must lose nothing vs the
    batch scan."""
    raw = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    bins_stream = sk.qhist_bins(raw, F.col("value"))
    bins = _run_stream_to_table(spark, bins_stream, "qhist_bins",
                                mode="complete")
    return sk.qhist_quantiles(bins)


@register("streaming_sketch_cms", ORACLES["sketch_cms_user_counts"])
def streaming_sketch_cms(spark, sf_dir):
    """The count-min counter table maintained ON THE LIVE STREAMING
    RUNTIME: per-(row, slot) counting is an incremental aggregation
    (complete mode, d x w integers of state total), so frequency
    estimates stay current as events arrive — the streaming half of
    heavy-hitter monitoring. Probing and the exact-count join happen
    batch-side on the sunk counters, checked against the SAME oracle as
    the batch twin: counting on a stream must lose nothing vs the
    batch scan."""
    raw = _events_stream(spark, sf_dir)
    counters_stream = sk.cms_counters(raw, F.col("user_id"))
    counters = _run_stream_to_table(spark, counters_stream, "cms_regs",
                                    mode="complete")
    ev = load(spark, sf_dir, "events")
    probes = ev.filter(F.col("user_id") % 7 == 0) \
        .select("user_id").distinct()
    est = sk.cms_estimate(counters, probes, F.col("user_id"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, est._key == exact.user_id, "left")
        .select(F.col("_key").alias("user_id"), "cms_est",
                F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"))
    )


@register("pipeline_temperature_mix",
          tx.sql_temperature_mix_report("documents"))
def pipeline_temperature_mix(spark, sf_dir):
    """Temperature-resampled domain mixture (tau=0.5) over the
    documents sources: small sources are upweighted toward
    sqrt-proportional shares under a total/2 budget — the data-mixing
    step between curation and packing in a pretraining pipeline. tau is
    0.5 BY DESIGN: IEEE sqrt is correctly rounded in both engines where
    pow() is not, and the weight sum is integer-quantized, so the
    keep-ppm table and therefore the exact kept-set is bit-reproducible
    (see functions/text.py). Verified as per-source
    (n_docs, weight, keep_ppm, n_kept) — any drift in the mixture math
    flips the hash."""
    return tx.temperature_mix_report(load(spark, sf_dir, "documents"))


@register("text_trigram_surprisal", tx.sql_trigram_surprisal("documents"))
def text_trigram_surprisal(spark, sf_dir):
    """CCNet-style LM-quality filter (Wenzek et al., LREC 2020) made
    engine-portable: per-doc mean character-trigram surprisal against
    an add-one model trained on the corpus, quantized to integer bits
    so the per-doc sum is exact int64 (see functions/text.py). High
    scores = corpus-rare trigrams = gibberish/boilerplate candidates —
    the perplexity axis of a curation pipeline, alongside
    text_quality and text_repetition."""
    return tx.trigram_surprisal(load(spark, sf_dir, "documents"))


@register("text_char_entropy", tx.sql_char_entropy("documents"))
def text_char_entropy(spark, sf_dir):
    """Per-doc character-distribution entropy in quantized integer
    bits — the MODEL-FREE gibberish/boilerplate signal (repeated-char
    spam ~0 bits, base64 noise ~log2 charset) complementing
    text_trigram_surprisal's corpus-LM axis. The scale story is the
    headline: a pure per-row HOF expression over the documents scan —
    zero shuffle, zero joins, zero model state — so it costs one map
    pass no matter the corpus size; the cheapest filter a 100 TB
    curation funnel should run FIRST. Exact-integer bits spelling
    shared with surprisal/DSIR (functions/text.py char_entropy)."""
    return tx.char_entropy(load(spark, sf_dir, "documents"))


# SQL spelling of the deduped (day, user) grain and the trailing-7-day
# range join, shared by the sliding-HLL oracle's sketch and exact halves.
_SLIDE7_SQL = (
    "(SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d0,"
    " user_id FROM events) e JOIN"
    " (SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d"
    " FROM events) dd ON e.d0 BETWEEN dd.d - 6 AND dd.d")


def _slide7_finalize(regs_daily, ev, dayc):
    """Trailing-7-day register merge + finalize + exact self-audit,
    shared by the batch and streaming sliding-HLL entries (one copy —
    a geometry fix applied to one twin cannot silently miss the
    other): explode each day's registers to the <= 7 corpus days they
    serve, re-max per (day, bucket), finalize, join the exact
    range-join count."""
    days = ev.select(dayc.alias("g")).distinct()
    merged = (regs_daily
              .select(F.explode(F.sequence(F.col("_day"),
                                           F.col("_day") + F.lit(6)))
                      .alias("g"), "_bucket", "_M")
              .join(days, "g")
              .groupBy("g", "_bucket").agg(F.max("_M").alias("_M")))
    est = sk.hll_finalize(merged, ["g"])
    du = ev.select(dayc.alias("d0"), "user_id").distinct()
    exact = (days.join(du, (F.col("d0") >= F.col("g") - 6)
                       & (F.col("d0") <= F.col("g")))
             .groupBy("g")
             .agg(F.count_distinct("user_id").alias("exact_uniques_7d")))
    return (est.join(exact, "g")
            .select(F.col("g").alias("day_idx"),
                    F.col("hll_est").alias("hll_uniques_7d"),
                    "hll_empty_buckets", "exact_uniques_7d"))


@register("events_sliding_hll_uniques", f"""
WITH _sl AS (
{sk.sql_hll_distinct("SELECT dd.d AS g, e.user_id FROM " + _SLIDE7_SQL,
                     ["g"], "user_id")}
),
_ex AS (
  SELECT dd.d AS g, CAST(count(DISTINCT e.user_id) AS BIGINT)
           AS exact_uniques_7d
  FROM {_SLIDE7_SQL}
  GROUP BY dd.d)
SELECT _sl.g AS day_idx, _sl.hll_est AS hll_uniques_7d,
       _sl.hll_empty_buckets, _ex.exact_uniques_7d
FROM _sl JOIN _ex ON _ex.g = _sl.g
""")
def events_sliding_hll_uniques(spark, sf_dir):
    """Trailing-7-day distinct users per day from MERGED DAILY HLL
    SKETCHES — the sliding-window twin of sketch_hll_daily_merge and
    the sketch twin of events_dau_wau's exact WAU. This is the reason
    mergeable sketches exist in an analytics engine: the fact is
    scanned ONCE into per-day register tables (day x 64 rows, the
    shard-grain artifact a 100 TB pipeline stores), and every window
    position is answered by re-maxing 7 register sets — cost
    days x 7 x 64 rows, independent of user cardinality, where the
    exact path re-joins the deduped (day, user) table x7 per window.
    Each day's registers fan out to the <= 7 corpus days they serve
    (explode of a 7-element sequence, semi-joined to real days so
    trailing windows past the corpus end never materialize), then
    groupBy(day, bucket) max. Merge-of-shards == sketch-of-union must
    hold REGISTER-FOR-REGISTER: the oracle sketches each window's
    union directly, so the gate fails on any drift in the merge path.
    The exact count rides alongside as the self-audit column, same
    contract as sketch_kmv_distinct."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / F.lit(86400000000.0)).cast("long")
    regs_daily = sk.hll_registers(ev.withColumn("_day", day), ["_day"],
                                  F.col("user_id"))
    return _slide7_finalize(regs_daily, ev, day)


@register("streaming_sliding_hll_uniques",
          ORACLES["events_sliding_hll_uniques"])
def streaming_sliding_hll_uniques(spark, sf_dir):
    """The sliding-window distinct-user dashboard maintained ON THE
    LIVE STREAMING RUNTIME: the DAILY register table is an
    incremental aggregation (complete mode, days x 64 ints of state —
    the same bounded-groups contract as streaming_sketch_hll), so the
    mergeable shard-grain artifact stays current as events arrive;
    the trailing-7-day merge (explode to served days, re-max,
    finalize, exact join) happens batch-side on the sunk registers,
    checked against the SAME oracle as the batch twin
    events_sliding_hll_uniques. This is the production split for
    sliding sketch windows: the STREAM maintains only the per-day
    registers (never windowed state — a window that re-keyed the
    stream by 7 target days would multiply state x7 for nothing),
    and any window geometry is derived downstream by register
    algebra, re-answerable for new window sizes without touching the
    stream."""
    raw = _events_stream(spark, sf_dir)
    dayc = F.floor(F.unix_micros("ts")
                   / F.lit(86400000000.0)).cast("long")
    regs_stream = sk.hll_registers(
        raw.withColumn("_day", dayc), ["_day"], F.col("user_id"))
    regs = _run_stream_to_table(spark, regs_stream, "slide_regs",
                                mode="complete")
    return _slide7_finalize(regs, load(spark, sf_dir, "events"), dayc)


@register("sketch_kmv_jaccard", f"""
WITH _tu AS (SELECT DISTINCT event_type, user_id FROM events),
_th AS (SELECT DISTINCT event_type,
               {sql_md5_long("CAST(user_id AS VARCHAR)")} AS _h
        FROM events),
_m AS (SELECT event_type, _h FROM (
         SELECT event_type, _h,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY _h) AS _rn
         FROM _th) WHERE _rn <= {sk.KMV_K}),
_ty AS (SELECT DISTINCT event_type FROM events),
_pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM _ty a JOIN _ty b ON a.event_type < b.event_type),
_u AS (SELECT type_a, type_b, _h, CAST(count(*) AS INT) AS _sides
       FROM (SELECT p.type_a, p.type_b, m._h
             FROM _pr p JOIN _m m ON m.event_type = p.type_a
             UNION ALL
             SELECT p.type_a, p.type_b, m._h
             FROM _pr p JOIN _m m ON m.event_type = p.type_b)
       GROUP BY 1, 2, 3),
_uk AS (SELECT * FROM (
          SELECT type_a, type_b, _h, _sides,
                 row_number() OVER (PARTITION BY type_a, type_b
                                    ORDER BY _h) AS _rn
          FROM _u) WHERE _rn <= {sk.KMV_K}),
_ag AS (SELECT type_a, type_b,
               CAST(count(*) AS BIGINT) AS union_k_used,
               max(_h) AS _kth,
               CAST(sum(CASE WHEN _sides = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS inter_in_sketch
        FROM _uk GROUP BY 1, 2),
_es AS (SELECT type_a, type_b, union_k_used, inter_in_sketch,
               CAST(CASE WHEN union_k_used < {sk.KMV_K}
                    THEN union_k_used
                    ELSE {sk.KMV_SPACE}
                         // greatest(_kth // {sk.KMV_K - 1}, 1)
                    END AS BIGINT) AS union_est
        FROM _ag),
_ex AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS exact_inter
        FROM _tu x JOIN _tu y
          ON y.user_id = x.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2),
_ct AS (SELECT event_type, CAST(count(*) AS BIGINT) AS _n
        FROM _tu GROUP BY 1)
SELECT e.type_a, e.type_b, e.union_k_used, e.union_est,
       e.inter_in_sketch,
       CAST(e.inter_in_sketch * (e.union_est // e.union_k_used)
            + (e.inter_in_sketch * (e.union_est % e.union_k_used))
              // e.union_k_used AS BIGINT) AS inter_est,
       CAST(e.inter_in_sketch * 1000000 // e.union_k_used AS BIGINT)
         AS jaccard_micro,
       CAST(COALESCE(x.exact_inter, 0) AS BIGINT) AS exact_inter,
       CAST(ca._n + cb._n - COALESCE(x.exact_inter, 0) AS BIGINT)
         AS exact_union,
       CAST(COALESCE(x.exact_inter, 0) * 1000000
            // (ca._n + cb._n - COALESCE(x.exact_inter, 0)) AS BIGINT)
         AS exact_jaccard_micro
FROM _es e
LEFT JOIN _ex x ON x.type_a = e.type_a AND x.type_b = e.type_b
JOIN _ct ca ON ca.event_type = e.type_a
JOIN _ct cb ON cb.event_type = e.type_b
""")
def sketch_kmv_jaccard(spark, sf_dir):
    """KMV/Theta-sketch SET ALGEBRA (Beyer 2007 §4; the DataSketches
    ThetaSketch union/intersection trick) — the capability
    sketch_kmv_distinct's docstring promises and HLL registers cannot
    deliver: estimated union, intersection, and Jaccard for every
    event-type pair of user sets, from the same k=64 bottom-k sketches.
    The union of two bottom-k sketches IS the bottom-k of the union
    (any hash among the union's k smallest is among its own set's k
    smallest), so merging sketches loses nothing; a union-sketch hash
    present in BOTH input sketches is a uniform sample of the
    intersection below the union's kth hash, giving
    jaccard ~ |both| / k_used and inter ~ jaccard x union_est. Every
    estimator is exact int64: the Beyer two-floor-division union
    estimate, and inter_est via the split-division identity
    i*(u div k) + (i*(u mod k)) div k == (i*u) div k — algebraically
    exact, never overflowing (i <= k, so the first term is <= u and
    the second < k^2), where the naive i*u product can exceed 2^63.
    Pairs with fewer than k distinct union hashes are EXACT by
    construction. Scale shape: sketches are built once (the
    kmv_bottomk three-stage bound), and everything after is
    sketch-sized — the pair merge window sees <= 2k rows per pair BY
    CONSTRUCTION (two k-row sketches), never data-sized. The exact
    intersection/union/Jaccard ride alongside as self-audit columns;
    exact_inter costs one self-join of the deduped (type, user) grain
    on user_id, bounded per user by (types-per-user choose 2) — the
    per-order blocking bound, with type cardinality ~5 constant."""
    ev = load(spark, sf_dir, "events")
    mins = sk.kmv_bottomk(ev, ["event_type"], F.col("user_id"))
    ta = mins.select(F.col("event_type").alias("type_a"), "_h")
    tb = mins.select(F.col("event_type").alias("type_b"), "_h")
    types = ev.select("event_type").distinct()
    pairs = (types.select(F.col("event_type").alias("type_a"))
             .join(types.select(F.col("event_type").alias("type_b")),
                   F.col("type_a") < F.col("type_b")))
    u = (pairs.join(ta, "type_a").select("type_a", "type_b", "_h")
         .unionByName(pairs.join(tb, "type_b")
                      .select("type_a", "type_b", "_h"))
         .groupBy("type_a", "type_b", "_h")
         .agg((F.count(F.lit(1)) == 2).cast("int").alias("_both")))
    wg = Window.partitionBy("type_a", "type_b").orderBy("_h")
    uk = (u.withColumn("_rn", F.row_number().over(wg))
          .filter(F.col("_rn") <= sk.KMV_K))
    agg = uk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("union_k_used"),
        F.max("_h").alias("_kth"),
        F.sum("_both").cast("long").alias("inter_in_sketch"))
    union_est = F.when(
        F.col("union_k_used") < sk.KMV_K, F.col("union_k_used")
    ).otherwise(F.expr(
        f"div(CAST({sk.KMV_SPACE} AS BIGINT), "
        f"greatest(div(_kth, {sk.KMV_K - 1}), CAST(1 AS BIGINT)))"))
    est = (agg.select("type_a", "type_b", "union_k_used",
                      "inter_in_sketch",
                      union_est.cast("long").alias("union_est"))
           .withColumn(
               "inter_est",
               F.expr("inter_in_sketch * div(union_est, union_k_used)"
                      " + div(inter_in_sketch"
                      " * (union_est % union_k_used), union_k_used)")
               .cast("long"))
           .withColumn(
               "jaccard_micro",
               F.expr("div(inter_in_sketch * 1000000, union_k_used)")
               .cast("long")))
    tu = ev.select("event_type", "user_id").distinct()
    ex = (tu.alias("x").join(tu.alias("y"), "user_id")
          .filter(F.col("x.event_type") < F.col("y.event_type"))
          .groupBy(F.col("x.event_type").alias("type_a"),
                   F.col("y.event_type").alias("type_b"))
          .agg(F.count(F.lit(1)).cast("long").alias("exact_inter")))
    cnt = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_n"))
    return (est.join(ex, ["type_a", "type_b"], "left")
            .join(cnt.select(F.col("event_type").alias("type_a"),
                             F.col("_n").alias("_na")), "type_a")
            .join(cnt.select(F.col("event_type").alias("type_b"),
                             F.col("_n").alias("_nb")), "type_b")
            .withColumn("exact_inter",
                        F.coalesce("exact_inter", F.lit(0)).cast("long"))
            .withColumn("exact_union",
                        (F.col("_na") + F.col("_nb")
                         - F.col("exact_inter")).cast("long"))
            .withColumn("exact_jaccard_micro",
                        F.expr("div(exact_inter * 1000000, exact_union)")
                        .cast("long"))
            .select("type_a", "type_b", "union_k_used", "union_est",
                    "inter_in_sketch", "inter_est", "jaccard_micro",
                    "exact_inter", "exact_union", "exact_jaccard_micro"))


def _basket_finish(pr, li):
    """Confidence / lift / top-20 finisher over a (part_a, part_b,
    support) pair table — shared by the batch and streaming basket
    miners (one copy: both check against the same oracle, so a
    tie-break or operation-order edit must hit both at once)."""
    n = li.agg(F.count_distinct("ok").cast("long").alias("n_orders"))
    ct = li.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sc = (pr.join(ct.select(F.col("pk").alias("part_a"),
                            F.col("n").alias("n_a")), "part_a")
          .join(ct.select(F.col("pk").alias("part_b"),
                          F.col("n").alias("n_b")), "part_b")
          .crossJoin(n)
          .withColumn("conf_a_to_b_micro",
                      F.expr("div(support * 1000000, n_a)").cast("long"))
          .withColumn("conf_b_to_a_micro",
                      F.expr("div(support * 1000000, n_b)").cast("long"))
          .withColumn("lift", round_portable(
              F.col("support").cast("double")
              * F.col("n_orders").cast("double")
              / (F.col("n_a").cast("double")
                 * F.col("n_b").cast("double")))))
    return (_topk_ranked(sc, [F.col("support").desc(), F.col("part_a"),
                              F.col("part_b")], 20, "rank")
            .select("part_a", "part_b", "support", "n_a", "n_b",
                    "conf_a_to_b_micro", "conf_b_to_a_micro", "lift",
                    F.col("rank").cast("int").alias("rank")))


@register("basket_lift_pairs", expand_round6("""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
ct AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY pk),
pr AS (SELECT a.pk AS part_a, b.pk AS part_b,
              CAST(count(*) AS BIGINT) AS support
       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       GROUP BY 1, 2),
sc AS (SELECT p.part_a, p.part_b, p.support,
              ca.n AS n_a, cb.n AS n_b,
              CAST(p.support * 1000000 // ca.n AS BIGINT)
                AS conf_a_to_b_micro,
              CAST(p.support * 1000000 // cb.n AS BIGINT)
                AS conf_b_to_a_micro,
              ROUND6(CAST(p.support AS DOUBLE)
                     * CAST((SELECT n_orders FROM n) AS DOUBLE)
                     / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)))
                AS lift
       FROM pr p JOIN ct ca ON ca.pk = p.part_a
                 JOIN ct cb ON cb.pk = p.part_b)
SELECT part_a, part_b, support, n_a, n_b, conf_a_to_b_micro,
       conf_b_to_a_micro, lift, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY support DESC, part_a,
                                   part_b) AS rn
      FROM sc)
WHERE rn <= 20
"""))
def basket_lift_pairs(spark, sf_dir):
    """Market-basket association rules (Agrawal & Srikant, VLDB 1994
    reduced to pair itemsets) over TPC-H orders: the top-20 part
    pairs by co-purchase support, with both directional confidences
    and lift — the frequent-itemset / recommendation axis no entry
    covered. The scale story is PER-BASKET BLOCKING, the same bound
    the triangle edge build and sketch_kmv_jaccard's exact-intersect
    rely on: candidate pairs are enumerated only WITHIN an order
    (TPC-H baskets hold <= 7 lines, so <= 21 pairs per basket; total
    work is sum |basket|^2, never catalog^2), then one partial-agg
    groupBy collapses them to (pair, support). Confidences are exact
    integer micros (support * 1e6 // n_x, safe: support <= n_x so the
    product stays under 2^63 for any n_x < 9.2e12); lift is the one
    final double ratio, ROUND6-portable, support x N / (n_a x n_b),
    computed in the identical operation order on both engines. The
    top-20 finisher is _topk_ranked (TakeOrderedAndProject), ties
    broken by (part_a, part_b) for an engine-exact total order."""
    li = (load(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
          .distinct())
    pr = (li.alias("a").join(li.alias("b"), "ok")
          .filter(F.col("a.pk") < F.col("b.pk"))
          .groupBy(F.col("a.pk").alias("part_a"),
                   F.col("b.pk").alias("part_b"))
          .agg(F.count(F.lit(1)).cast("long").alias("support")))
    return _basket_finish(pr, li)


@register("streaming_basket_pairs", ORACLES["basket_lift_pairs"])
def streaming_basket_pairs(spark, sf_dir):
    """Association-rule mining ON THE LIVE STREAMING RUNTIME: basket
    pairs are generated INCREMENTALLY as order lines arrive —
    applyInPandasWithState keeps each basket's distinct item set
    (bounded by basket size, the batch miner's own bound) and emits
    exactly the pairs each micro-batch's NEW items create (new x seen
    + new x new), so every (a < b) pair is emitted once, by the batch
    in which its second item arrives, under ANY micro-batching
    (stateful.basket_pair_step; property-tested over random
    chunkings). No basket ever waits for 'completion' — the open
    problem a windowed formulation would have (orders have no close
    event) simply doesn't arise when the pair, not the basket, is the
    emission unit. Support counts aggregate downstream on the sunk
    pairs; confidence/lift denominators and the TakeOrdered top-20
    finisher are the batch plan verbatim, checked against the SAME
    oracle as basket_lift_pairs: mining on a stream must lose nothing
    vs the batch scan."""
    from ..streaming import stateful

    raw = (spark.readStream.schema("l_orderkey long, l_partkey long")
           .option("pathGlobFilter", "lineitem.parquet").parquet(sf_dir)
           .select(F.col("l_orderkey").alias("ok"),
                   F.col("l_partkey").alias("pk")))
    out = stateful.apply_per_event_stream(
        raw, ["ok"], ["pk"], stateful.basket_pair_step,
        "ok long, part_a long, part_b long",
        "items array<long>",
        pack=lambda s: (s[0],),
        unpack=lambda r: (list(r[0]),))
    sunk = _run_stream_to_table(spark, out, "basket_stream")
    pr = (sunk.groupBy("part_a", "part_b")
          .agg(F.count(F.lit(1)).cast("long").alias("support")))
    li = (load(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
          .distinct())
    return _basket_finish(pr, li)


@register("streaming_sketch_kmv", ORACLES["sketch_kmv_distinct"])
def streaming_sketch_kmv(spark, sf_dir):
    """The KMV bottom-k sketch maintained ON THE LIVE STREAMING
    RUNTIME — the one streaming sketch (unlike HLL's max and CMS's
    sum) that is NOT a built-in aggregation shape, so it exercises the
    custom-bounded-state path: applyInPandasWithState holds at most k
    int64 hashes per event type (stateful.kmv_sketch_step), merging
    each micro-batch's hashes losslessly by the KMV union theorem —
    the final state provably equals the batch-built sketch under ANY
    micro-batching. Hashing stays JVM-side (the portable md5_long
    projection feeds the stateful operator), Python only merges
    k-sized sorted lists per Arrow batch. Each batch emits the current
    sketch with a monotone seq; the finalize keeps each key's last
    emission (per-KEY window, never global), explodes it back to
    (group, hash) grain, and runs the SAME Beyer estimator + exact
    join — checked against the SAME oracle as the batch twin
    sketch_kmv_distinct: sketching on a stream must lose nothing vs
    the batch scan. Completes the streaming sketch family
    (hll / cms / qhist / kmv)."""
    from ..streaming import stateful

    raw = _events_stream(spark, sf_dir)
    src = raw.select(
        "event_type",
        md5_long(F.col("user_id").cast("string")).alias("_h"))
    out = stateful.apply_per_event_stream(
        src, ["event_type"], ["_h"], stateful.kmv_sketch_step,
        "event_type string, seq long, hashes array<long>",
        "hashes array<long>, seq long",
        pack=lambda s: (s[0], s[1]),
        unpack=lambda r: (list(r[0]), int(r[1])))
    sunk = _run_stream_to_table(spark, out, "kmv_stream")
    w = Window.partitionBy("event_type").orderBy(F.col("seq").desc())
    last = (sunk.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    mins = last.select("event_type", F.explode("hashes").alias("_h"))
    est = sk.kmv_estimate(mins, ["event_type"])
    exact = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    return est.join(exact, "event_type")


@register("events_autocorr_daily", """
WITH d AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
p AS (
  SELECT a.event_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.rev) AS BIGINT) AS sa,
         CAST(sum(b.rev) AS BIGINT) AS sb,
         CAST(sum(CAST(a.rev AS HUGEINT) * b.rev) AS HUGEINT) AS sab,
         CAST(sum(CAST(a.rev AS HUGEINT) * a.rev) AS HUGEINT) AS saa,
         CAST(sum(CAST(b.rev AS HUGEINT) * b.rev) AS HUGEINT) AS sbb
  FROM d a JOIN d b ON b.event_type = a.event_type
                   AND b.day_idx = a.day_idx + 1
  GROUP BY 1),
t AS (SELECT DISTINCT event_type FROM events)
SELECT t.event_type, CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CASE WHEN p.n_pairs * p.saa - CAST(p.sa AS HUGEINT) * p.sa = 0
              OR p.n_pairs * p.sbb - CAST(p.sb AS HUGEINT) * p.sb = 0
            THEN NULL
            ELSE CAST(p.n_pairs * p.sab
                      - CAST(p.sa AS HUGEINT) * p.sb AS DOUBLE)
                 / sqrt(CAST(p.n_pairs * p.saa
                             - CAST(p.sa AS HUGEINT) * p.sa AS DOUBLE))
                 / sqrt(CAST(p.n_pairs * p.sbb
                             - CAST(p.sb AS HUGEINT) * p.sb AS DOUBLE))
       END AS autocorr_lag1
FROM t LEFT JOIN p ON p.event_type = t.event_type
""")
def events_autocorr_daily(spark, sf_dir):
    """Lag-1 autocorrelation of each type's DAILY revenue series —
    the temporal-dependence diagnostic next to events_type_correlation
    (cross-series co-movement) and events_trend_slope (drift): is
    today's revenue informative about tomorrow's, per segment? Pairs
    are CONSECUTIVE calendar days only (b.day = a.day + 1, an
    equi-join on the tiny per-type day series — a gap day contributes
    no pair, matching the statistical definition over an irregular
    series rather than fabricating adjacency across holes). Identical
    exactness story to the correlation entry: the fact collapses to
    (type, day) integer-cents revenue first, moments are exact
    decimal(38)/HUGEINT products, and floats appear only in the final
    divide-and-sqrt (three correctly-rounded IEEE ops, both engines).
    Zero-variance series (constant revenue, or a single pair) yield
    NULL — guarded, never an ANSI crash; types with no consecutive
    days keep a row with n_pairs = 0 and NULL autocorrelation."""
    ev = load(spark, sf_dir, "events")
    # fold/stat input contract (matches events_cusum_changepoint): a
    # NULL value carries no revenue — filtered on BOTH engines so an
    # all-NULL (type, day) can't enter the pair join with rev=NULL and
    # count toward n_pairs while the moment sums skip it
    d = (ev.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                 .cast("long").alias("day_idx"),
                 _cents(F.col("value")).alias("_c"))
         .groupBy("event_type", "day_idx")
         .agg(F.sum("_c").alias("rev")))
    a = d.select(F.col("event_type").alias("_ta"),
                 F.col("day_idx").alias("_da"),
                 F.col("rev").alias("_ra"))
    b = d.select(F.col("event_type").alias("_tb"),
                 F.col("day_idx").alias("_db"),
                 F.col("rev").alias("_rb"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    p = (a.join(b, (F.col("_ta") == F.col("_tb"))
                & (F.col("_db") == F.col("_da") + 1))
         .groupBy(F.col("_ta").alias("event_type"))
         .agg(F.count(F.lit(1)).alias("_np"),
              F.sum("_ra").alias("sa"), F.sum("_rb").alias("sb"),
              F.sum(dec(F.col("_ra")) * dec(F.col("_rb"))).alias("sab"),
              F.sum(dec(F.col("_ra")) * dec(F.col("_ra"))).alias("saa"),
              F.sum(dec(F.col("_rb")) * dec(F.col("_rb"))).alias("sbb")))
    t = ev.select("event_type").distinct()
    nD = dec(F.col("_np"))
    cov = nD * F.col("sab") - dec(F.col("sa")) * dec(F.col("sb"))
    va = nD * F.col("saa") - dec(F.col("sa")) * dec(F.col("sa"))
    vb = nD * F.col("sbb") - dec(F.col("sb")) * dec(F.col("sb"))
    return (t.join(p, "event_type", "left")
            .select("event_type",
                    F.coalesce("_np", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.when((va == 0) | (vb == 0),
                           F.lit(None).cast("double"))
                    .otherwise(cov.cast("double")
                               / F.sqrt(va.cast("double"))
                               / F.sqrt(vb.cast("double")))
                    .alias("autocorr_lag1")))


_HOLT_SQL = """
WITH d AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
folded AS (
  SELECT event_type,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                         CAST(0 AS BIGINT)],
                        list([day_idx, x] ORDER BY day_idx)),
           (acc, e) -> CASE
             WHEN acc[1] = 0 THEN
               list_concat([CAST(1 AS BIGINT), e[2], CAST(0 AS BIGINT)],
                           list_concat(acc[4:],
                                       [e[1], e[2], CAST(0 AS BIGINT),
                                        e[2]]))
             ELSE
               list_concat(
                 [CAST(1 AS BIGINT),
                  (e[2] + acc[2] + acc[3]) // 2,
                  ((e[2] + acc[2] + acc[3]) // 2 - acc[2] + acc[3])
                    // 2],
                 list_concat(acc[4:],
                   [e[1],
                    (e[2] + acc[2] + acc[3]) // 2,
                    ((e[2] + acc[2] + acc[3]) // 2 - acc[2] + acc[3])
                      // 2,
                    (e[2] + acc[2] + acc[3]) // 2
                      + ((e[2] + acc[2] + acc[3]) // 2 - acc[2]
                         + acc[3]) // 2]))
           END) AS st
  FROM d GROUP BY event_type),
m AS (SELECT event_type, st[4:] AS q FROM folded)
SELECT event_type,
       unnest(list_transform(generate_series(1, len(q) // 4),
              i -> q[(i - 1) * 4 + 1])) AS day_idx,
       unnest(list_transform(generate_series(1, len(q) // 4),
              i -> q[(i - 1) * 4 + 2])) AS level_cents,
       unnest(list_transform(generate_series(1, len(q) // 4),
              i -> q[(i - 1) * 4 + 3])) AS trend_cents,
       unnest(list_transform(generate_series(1, len(q) // 4),
              i -> q[(i - 1) * 4 + 4])) AS forecast_cents
FROM m
"""


@register("events_holt_linear", _HOLT_SQL)
def events_holt_linear(spark, sf_dir):
    """Holt's linear-trend forecast over each type's daily revenue —
    the forecasting baseline next to the diagnostics (autocorr,
    seasonality, trend slope): double-exponential smoothing with a
    LEVEL and a TREND component (Holt 1957; FPP3 ch. 8.2), alpha =
    beta = 1/2 in exact integer cents, emitting per observed day the
    smoothed level, trend, and 1-step-ahead forecast. The recurrence
    is sequential per key — exactly the per-event fold engine's job
    (constant 2-int state, one Python call per Arrow chunk, key-
    cardinality independent); the halving TRUNCATES toward zero on
    both engines — DuckDB's integer // truncates on negatives while
    python // floors, so the step truncates explicitly (caught by the
    oracle on the first negative-trend day: off by one). Gap
    days are skipped, not imputed — the fold is over the observed
    series on both engines."""
    from ..streaming import stateful

    ev = load(spark, sf_dir, "events")
    d = (ev.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                 .cast("long").alias("day_idx"),
                 _cents(F.col("value")).alias("_c"))
         .groupBy("event_type", "day_idx")
         .agg(F.sum("_c").alias("x")))
    return stateful.apply_per_event_batch(
        d, ["event_type"], ["day_idx"], stateful.holt_linear_step,
        "event_type string, day_idx long, level_cents long, "
        "trend_cents long, forecast_cents long")


@register("streaming_holt_linear", _HOLT_SQL)
def streaming_holt_linear(spark, sf_dir):
    """The Holt fold ON THE LIVE STREAMING RUNTIME: the daily revenue
    grid stages into a file topic (the closed-day aggregate a real
    pipeline's upstream window emits — the st8 two-stage precedent)
    and applyInPandasWithState carries the (level, trend) state
    across micro-batches, emitting each day's smoothed row as it
    arrives. Same 2-int state, same integer recurrence, same oracle
    as the batch twin — a forecaster you can leave running on the
    stream."""
    from ..streaming import stateful

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events")
    d = (ev.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
                 .cast("long").alias("day_idx"),
                 _cents(F.col("value")).alias("_c"))
         .groupBy("event_type", "day_idx")
         .agg(F.sum("_c").alias("x")))
    topic = _scratch("holt_topic_")
    d.write.mode("overwrite").parquet(topic)
    src = (spark.readStream.schema(
        "event_type string, day_idx long, x long").parquet(topic))
    out = stateful.apply_per_event_stream(
        src, ["event_type"], ["day_idx"], stateful.holt_linear_step,
        "event_type string, day_idx long, level_cents long, "
        "trend_cents long, forecast_cents long",
        "l long, b long, started int",
        pack=lambda s: (s[0], s[1], s[2]),
        unpack=lambda r: (int(r[0]), int(r[1]), int(r[2])))
    return _run_stream_to_table(spark, out, "holt_stream")


@register("events_seasonality_dow", """
WITH d AS (
  SELECT event_type,
         CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT) AS dow_idx,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM events GROUP BY 1, 2),
t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total_n
      FROM d GROUP BY 1)
SELECT d.event_type, d.dow_idx, d.n_events,
       CAST(COALESCE(d.rev_cents, 0) AS BIGINT) AS rev_cents,
       CAST(d.n_events * 7000000 // t.total_n - 1000000 AS BIGINT)
         AS dev_micro
FROM d JOIN t ON t.event_type = d.event_type
""")
def events_seasonality_dow(spark, sf_dir):
    """Day-of-week seasonality profile per event type — the weekly
    periodicity fingerprint (weekend dips, Monday spikes) every
    traffic dashboard publishes, and the companion diagnostic to
    events_autocorr_daily's lag view. dow_idx is the portable
    epoch-day mod 7 (0 = Thursday; an INDEX, deliberately not a
    locale-dependent weekday name — both engines compute it from the
    same integer day). dev_micro is the relative deviation from a
    uniform week in integer MICROS: n_dow * 7e6 div n_total - 1e6,
    exact int64 (numerator nonnegative, so DuckDB floor-div ==
    Spark div; safe below ~1.3e12 events per type). NULL-value rows
    still count traffic but add no revenue (sum skips NULL in both
    engines; an all-NULL bucket coalesces to 0 cents). Scale shape:
    one map-side-combined shuffle to the (type, dow) grain — 7 rows
    per type regardless of fact size — then a broadcast-sized join
    against the per-type totals."""
    ev = load(spark, sf_dir, "events")
    d = (ev.groupBy(
        "event_type",
        # floor spelling (not `div`): DuckDB's // floors while Spark's
        # div truncates toward zero, so pre-1970 timestamps would skew
        # day_idx between the engines; the residue stays `%` (both
        # engines take the dividend's sign, so it matches given equal
        # day_idx)
        (F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
         .cast("long") % F.lit(7)).cast("long")
        .alias("dow_idx"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum(_cents(F.col("value"))).alias("rev_cents")))
    t = d.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("total_n"))
    return (d.join(t, "event_type")
            .select("event_type", "dow_idx", "n_events",
                    F.coalesce("rev_cents", F.lit(0)).cast("long")
                    .alias("rev_cents"),
                    F.expr("div(n_events * 7000000, total_n) - 1000000")
                    .cast("long").alias("dev_micro")))


@register("events_cusum_changepoint", """
WITH d AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
p AS (
  SELECT event_type, day_idx,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY day_idx) AS BIGINT) AS t,
         CAST(sum(rev) OVER (PARTITION BY event_type ORDER BY day_idx
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
  FROM d),
tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(rev) AS BIGINT) AS sn
        FROM d GROUP BY 1),
dev AS (
  SELECT p.event_type, p.day_idx, tot.n_days,
         abs(CAST(tot.n_days AS HUGEINT) * p.s
             - CAST(p.t AS HUGEINT) * tot.sn) AS dd
  FROM p JOIN tot ON tot.event_type = p.event_type)
SELECT event_type, n_days, day_idx AS cp_day_idx,
       CAST(dd AS DOUBLE) AS cp_dev
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dd DESC, day_idx ASC) AS rn
      FROM dev)
WHERE rn = 1
""")
def events_cusum_changepoint(spark, sf_dir):
    """Offline changepoint detection per event type — the CUSUM-style
    maximum prefix deviation (Page 1954's statistic in its offline
    split form): the day t maximizing |N·S_t − t·S_N|, i.e. where the
    series' prefix mean diverges most from its global mean — the
    first question after events_trend_slope says "something drifted":
    WHEN did it shift? Everything is exact integers: daily revenue in
    cents, the prefix sum S_t, and the deviation as a decimal(38)/
    HUGEINT product (N·S_t overflows int64 at multi-year spans of
    high-revenue types); the one double is the final CAST of the
    exact winning deviation. The argmax is deterministic (deviation
    DESC, day ASC — earliest day wins ties). Scale shape: the fact
    collapses to the (type, day) series FIRST (map-side-combined
    shuffle); prefix sum, totals, and argmax all run over the tiny
    series table — the documented bounded-cardinality window class
    (partition by year for multi-century tables). Rows with NULL
    value carry no revenue evidence and are excluded on both engines
    (the fold/stat input contract)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = (ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86400000000.0)).cast("long")
        .alias("day_idx"))
        .agg(F.sum(_cents(F.col("value"))).alias("rev")))
    wo = Window.partitionBy("event_type").orderBy("day_idx")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = d.select("event_type", "day_idx",
                 F.row_number().over(wo).cast("long").alias("t"),
                 F.sum("rev").over(wc).alias("s"))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("rev").alias("sn"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    dev = (p.join(tot, "event_type")
           .select("event_type", "day_idx", "n_days",
                   F.abs(dec(F.col("n_days")) * dec(F.col("s"))
                         - dec(F.col("t")) * dec(F.col("sn")))
                   .alias("dd")))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("dd").desc(), F.col("day_idx").asc())
    return (dev.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("event_type", "n_days",
                    F.col("day_idx").alias("cp_day_idx"),
                    F.col("dd").cast("double").alias("cp_dev")))


_MMR_SHORTLIST = 16
_MMR_K = 8


def _sql_mmr_parts() -> str:
    """Shared CTE prefix for the MMR oracles (the _sql_pagerank
    pattern: a fixed greedy-step count unrolled into chained CTEs)."""
    ids = ", ".join(str(i) for i in _QUERY_IDS)
    cos_qc = sim.sql_cosine("q.qv", "c.cv", _EMB_DIM)
    cos_ab = sim.sql_cosine("x.cv", "y.cv", _EMB_DIM)
    parts = [f"""q AS (SELECT vec_id AS qid, embedding AS qv
       FROM embeddings WHERE vec_id IN ({ids})),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
srt AS MATERIALIZED (SELECT * FROM (
  SELECT qid, cid, relm, cv,
         row_number() OVER (PARTITION BY qid
                            ORDER BY relm DESC, cid ASC) AS rn
  FROM (SELECT q.qid, c.cid,
               CAST(floor(({cos_qc}) * 1000000.0 + 0.5) AS BIGINT)
                 AS relm, c.cv
        FROM q CROSS JOIN c WHERE q.qid <> c.cid)
  WHERE relm IS NOT NULL) WHERE rn <= {_MMR_SHORTLIST}),
ps AS MATERIALIZED (SELECT x.qid, x.cid AS a, y.cid AS b,
              CAST(floor(({cos_ab}) * 1000000.0 + 0.5) AS BIGINT)
                AS simm
       FROM srt x JOIN srt y ON y.qid = x.qid AND x.cid <> y.cid),
sel1 AS (SELECT qid, cid, relm, relm AS mmrm, 1 AS rank
         FROM srt WHERE rn = 1),
selall1 AS MATERIALIZED (SELECT qid, cid FROM sel1)"""]
    for i in range(2, _MMR_K + 1):
        parts.append(f"""cand{i} AS MATERIALIZED (
  SELECT s.qid, s.cid, s.relm, s.relm - max(p.simm) AS mmrm
  FROM srt s
  JOIN ps p ON p.qid = s.qid AND p.a = s.cid
  JOIN selall{i - 1} t ON t.qid = p.qid AND t.cid = p.b
  WHERE NOT EXISTS (SELECT 1 FROM selall{i - 1} z
                    WHERE z.qid = s.qid AND z.cid = s.cid)
  GROUP BY s.qid, s.cid, s.relm),
sel{i} AS MATERIALIZED (SELECT qid, cid, relm, mmrm, {i} AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY mmrm DESC, cid ASC) AS rnn FROM cand{i})
  WHERE rnn = 1),
selall{i} AS MATERIALIZED (SELECT qid, cid FROM selall{i - 1}
              UNION ALL SELECT qid, cid FROM sel{i})""")
    union = "\nUNION ALL\n".join(
        f"SELECT qid, cid, relm, mmrm, rank FROM sel{i}"
        for i in range(1, _MMR_K + 1))
    return "WITH " + ",\n".join(parts) + f",\nmmsel AS ({union})"


def _sql_mmr() -> str:
    return (_sql_mmr_parts() + """
SELECT qid AS query_id, cid AS vec_id, relm AS rel_micro,
       mmrm AS mmr_micro, CAST(rank AS INTEGER) AS sel_rank
FROM mmsel""")


def _sql_mmr_diversity() -> str:
    return (_sql_mmr_parts() + f""",
tk AS (SELECT qid, cid, relm FROM srt WHERE rn <= {_MMR_K}),
tkr AS (SELECT qid, CAST(sum(relm) AS BIGINT) AS rs,
               CAST(count(*) AS BIGINT) AS ns FROM tk GROUP BY qid),
mmr2 AS (SELECT qid, CAST(sum(relm) AS BIGINT) AS rs,
                CAST(count(*) AS BIGINT) AS ns FROM mmsel GROUP BY qid),
tkp AS (SELECT p.qid, CAST(sum(p.simm) AS BIGINT) AS ss,
               CAST(count(*) AS BIGINT) AS np
        FROM ps p
        JOIN tk x ON x.qid = p.qid AND x.cid = p.a
        JOIN tk y ON y.qid = p.qid AND y.cid = p.b
        WHERE p.a < p.b GROUP BY p.qid),
mmp AS (SELECT p.qid, CAST(sum(p.simm) AS BIGINT) AS ss,
               CAST(count(*) AS BIGINT) AS np
        FROM ps p
        JOIN mmsel x ON x.qid = p.qid AND x.cid = p.a
        JOIN mmsel y ON y.qid = p.qid AND y.cid = p.b
        WHERE p.a < p.b GROUP BY p.qid)
SELECT tkr.qid AS query_id,
       tkr.ns AS n_topk, tkr.rs AS topk_rel_sum,
       CAST(COALESCE(tkp.np, 0) AS BIGINT) AS n_topk_pairs,
       CAST(COALESCE(tkp.ss, 0) AS BIGINT) AS topk_pairsim_sum,
       mmr2.ns AS n_mmr, mmr2.rs AS mmr_rel_sum,
       CAST(COALESCE(mmp.np, 0) AS BIGINT) AS n_mmr_pairs,
       CAST(COALESCE(mmp.ss, 0) AS BIGINT) AS mmr_pairsim_sum
FROM tkr JOIN mmr2 ON mmr2.qid = tkr.qid
LEFT JOIN tkp ON tkp.qid = tkr.qid
LEFT JOIN mmp ON mmp.qid = tkr.qid""")


def _mmr_frames(spark, sf_dir):
    """The distributed halves of MMR: the per-query top-shortlist
    (srt: qid, cid, relm, cv, _cn, rn) and the within-shortlist pair sims
    (ps: qid, a, b, simm), shared by sim_mmr_rerank and
    sim_mmr_diversity."""
    emb = load(spark, sf_dir, "embeddings")
    # per-side norms hoisted below the crossJoin and the shortlist
    # pair self-join (sim.l2sq_pre note): the norm rides the shortlist
    # rows so each candidate pair costs one dot fold, not three
    q = F.broadcast(
        emb.filter(F.col("vec_id").isin(_QUERY_IDS))
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qv"),
                sim.norm_col(F.col("embedding")).alias("_qn")))
    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("cv"),
                   sim.norm_col(F.col("embedding")).alias("_cn"))
    relm = F.floor(sim.cosine_pre(sim.dot(F.col("qv"), F.col("cv")),
                                  F.col("_qn"), F.col("_cn"))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    wq = Window.partitionBy("qid").orderBy(
        F.col("relm").desc(), F.col("cid").asc())
    from ..operators import cache
    # persist the shortlist: the pair self-join consumes it twice and
    # the greedy/top-k/sum consumers again — unpersisted, each re-ran
    # the corpus crossJoin + window (persist_audit: 45-node subtree x3)
    srt = cache.maybe_persist(
        q.crossJoin(c).filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", relm.alias("relm"), "cv", "_cn")
        .filter(F.col("relm").isNotNull())
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_SHORTLIST))
    simm = F.floor(sim.cosine_pre(sim.dot(F.col("_av"), F.col("_bv")),
                                  F.col("_an"), F.col("_bn"))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    ps = (srt.select("qid", F.col("cid").alias("a"),
                     F.col("cv").alias("_av"),
                     F.col("_cn").alias("_an"))
          .join(srt.select(F.col("qid").alias("_q2"),
                           F.col("cid").alias("b"),
                           F.col("cv").alias("_bv"),
                           F.col("_cn").alias("_bn")),
                (F.col("qid") == F.col("_q2"))
                & (F.col("a") != F.col("b")))
          .select("qid", "a", "b", simm.alias("simm")))
    return srt, ps


@register("sim_mmr_rerank", _sql_mmr())
def sim_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — DIVERSIFIED retrieval, the post-ANN step that keeps
    a near-duplicate-heavy corpus from returning ten copies of the
    same document: greedily pick the candidate maximizing
    lambda*rel - (1-lambda)*max_sim_to_already_selected (lambda=1/2,
    so the exact-integer objective is rel_micro - max_sim_micro; the
    first pick has no penalty term). The 100 TB shape is
    SHORTLIST-THEN-RERANK, the same cheap-filter/exact-verify dial as
    Matryoshka truncation: one corpus scan builds the per-query
    top-{_MMR_SHORTLIST} shortlist (broadcast queries, corpus never
    shuffles — the cosine_topk shape), pairwise candidate sims are
    precomputed ONCE on the shortlist (|Q| x {_MMR_SHORTLIST}^2
    rows), and the {_MMR_K}-step greedy selection — sequential PER
    QUERY by definition — runs inside ONE Arrow-batched applyInPandas
    over the per-query pair group (a constant shortlist^2 rows of
    int64s), so a million queries re-rank in parallel with zero
    driver involvement. A first cut expressed the loop as 8 chained
    DataFrame iterations; each step referenced the previous twice
    (anti-join + penalty join), DOUBLING the logical plan per step —
    2^8 copies of the shortlist subtree OOM'd Catalyst before any
    data moved. The greedy recurrence is data-tiny but
    lineage-hostile: per-group Python over the precomputed integer
    pair matrix is the honest shape. All scores are quantized micros
    (floor(cos*1e6+0.5)), so every comparison and tie (mmr DESC, id
    ASC) is engine-exact; zero-norm vectors drop at the shortlist
    (NULL cosine); a candidate with no computable sim to the selected
    set is skipped, matching the oracle's join semantics. The oracle
    unrolls the greedy loop into chained CTEs (the _sql_pagerank
    pattern — with every iteration CTE MATERIALIZED: DuckDB inlines
    CTEs by default, and each step referencing the previous twice
    re-created the same 2^K blowup as the DataFrame version, as a
    planner hang instead of an OOM). Plan note: the shortlist
    self-join and the pair-group join are equi-joins on qid — the
    SAME key the applyInPandas groupBy shuffles on, so the audit's
    SMJ-only flag is the intended co-located chain at large |Q|;
    AQE upgrades them to broadcast when |Q| is gate-sized."""
    srt, ps = _mmr_frames(spark, sf_dir)
    return _mmr_greedy_select(srt, ps)


def _mmr_greedy_select(srt, ps):
    """The greedy-selection half of MMR over already-built shortlist/
    pair frames — shared by sim_mmr_rerank and sim_mmr_diversity so
    the corpus scan and pair self-join are built ONCE per consumer
    plan, never per entry-composition."""
    pairs = (srt.select("qid", "cid", "relm")
             .join(ps.select(F.col("qid").alias("_pq"),
                             F.col("a").alias("_pa"), "b", "simm"),
                   (F.col("qid") == F.col("_pq"))
                   & (F.col("cid") == F.col("_pa")), "left")
             .select("qid", "cid", "relm", "b", "simm"))
    k = _MMR_K

    def _greedy(pdf):
        import pandas as pd

        qid = int(pdf["qid"].iloc[0])
        rel = {}
        simd = {}
        for r in pdf.itertuples(index=False):
            c = int(r.cid)
            rel[c] = int(r.relm)
            # both guards: the shortlist join currently can't emit a
            # non-NULL b with NULL simm (srt filters relm.isNotNull()),
            # but int(NaN) raising inside the executor is the wrong way
            # to learn that invariant loosened — skip like the oracle's
            # NULL-skipping max()
            if pd.notna(r.b) and pd.notna(r.simm):
                simd[(c, int(r.b))] = int(r.simm)
        first = min(rel.items(), key=lambda kv: (-kv[1], kv[0]))
        rows = [(qid, first[0], first[1], first[1], 1)]
        sel = [first[0]]
        for i in range(2, k + 1):
            best = None
            for c, rc in sorted(rel.items()):
                if c in sel:
                    continue
                sims = [simd[(c, s)] for s in sel if (c, s) in simd]
                if not sims:
                    continue
                m = rc - max(sims)
                if best is None or m > best[1] or (m == best[1]
                                                  and c < best[0]):
                    best = (c, m)
            if best is None:
                break
            rows.append((qid, best[0], rel[best[0]], best[1], i))
            sel.append(best[0])
        return pd.DataFrame(rows, columns=[
            "query_id", "vec_id", "rel_micro", "mmr_micro", "sel_rank"])

    return (pairs.groupBy("qid").applyInPandas(
        _greedy,
        "query_id long, vec_id long, rel_micro long, mmr_micro long, "
        "sel_rank int"))


@register("sim_mmr_diversity", _sql_mmr_diversity())
def sim_mmr_diversity(spark, sf_dir):
    """What MMR BUYS, measured — the dial entry for sim_mmr_rerank,
    the same contract as the ANN recall dials: per query, the exact
    relevance sum and intra-list pairwise-similarity sum of the MMR
    selection vs the plain top-{_MMR_K}-by-relevance selection. The
    trade MMR makes is visible as data: mmr_pairsim_sum <
    topk_pairsim_sum (the selection is more diverse) at the cost of
    mmr_rel_sum <= topk_rel_sum (slightly less relevant) — a
    diversification knob you can't trust until it's measured, the
    sim_pq_trained_recall lesson. All sums are exact int64 micros
    over the same precomputed shortlist/pair frames as the rerank
    entry (shared _mmr_frames), so the comparison adds two
    sketch-sized joins and NO new corpus work; pair sums count each
    unordered pair once (a < b)."""
    from ..operators import cache
    srt, ps = _mmr_frames(spark, sf_dir)
    # persist the greedy selection (FORCED — applyInPandas output, the
    # mapInPandas bogus-estimate class): its relevance-sum and
    # pair-sum consumers would otherwise each re-run the per-group
    # Python greedy (the shortlist cache above stays live alongside —
    # entry wrapper releases both at the next entry boundary)
    picks = cache.maybe_persist(
        _mmr_greedy_select(srt, ps).select(
            F.col("query_id").alias("qid"), F.col("vec_id").alias("cid"),
            F.col("rel_micro").alias("relm")), force=True)
    tk = srt.filter(F.col("rn") <= _MMR_K).select("qid", "cid", "relm")

    def relsum(s, pfx):
        return s.groupBy("qid").agg(
            F.sum("relm").cast("long").alias(f"{pfx}_rel_sum"),
            F.count(F.lit(1)).cast("long").alias(f"n_{pfx}"))

    def pairsum(s, pfx):
        m = s.select(F.col("qid").alias("_mq"),
                     F.col("cid").alias("_mc"))
        n = s.select(F.col("qid").alias("_nq"),
                     F.col("cid").alias("_nc"))
        return (ps.filter(F.col("a") < F.col("b"))
                .join(m, (F.col("qid") == F.col("_mq"))
                      & (F.col("a") == F.col("_mc")))
                .join(n, (F.col("qid") == F.col("_nq"))
                      & (F.col("b") == F.col("_nc")))
                .groupBy("qid")
                .agg(F.sum("simm").cast("long")
                     .alias(f"{pfx}_pairsim_sum"),
                     F.count(F.lit(1)).cast("long")
                     .alias(f"n_{pfx}_pairs")))

    return (relsum(tk, "topk").join(relsum(picks, "mmr"), "qid")
            .join(pairsum(tk, "topk"), "qid", "left")
            .join(pairsum(picks, "mmr"), "qid", "left")
            .select(F.col("qid").alias("query_id"),
                    "n_topk", "topk_rel_sum",
                    F.coalesce("n_topk_pairs", F.lit(0)).cast("long")
                    .alias("n_topk_pairs"),
                    F.coalesce("topk_pairsim_sum", F.lit(0))
                    .cast("long").alias("topk_pairsim_sum"),
                    "n_mmr", "mmr_rel_sum",
                    F.coalesce("n_mmr_pairs", F.lit(0)).cast("long")
                    .alias("n_mmr_pairs"),
                    F.coalesce("mmr_pairsim_sum", F.lit(0))
                    .cast("long").alias("mmr_pairsim_sum")))


@register("pipeline_quality_classifier", tx.sql_quality_nb("documents"))
def pipeline_quality_classifier(spark, sf_dir):
    """Learned quality filter: a bag-of-unigrams Naive Bayes
    classifier trained (even doc ids) to reproduce the Gopher rule
    panel's keep verdict and evaluated on the held-out odd half —
    the CCNet/LLaMA "model-based quality classifier" axis, with the
    test-half confusion matrix (+ exact summed scores) as the
    checkable artifact. Token class log-ratios live in quantized
    integer bits (the DSIR/trigram-surprisal trick), per-doc scores
    are exact int64, prediction is score > 0 with ties to reject —
    no float anywhere, bit-identical on any cluster. One groupBy
    over the training half yields both class counts (conditional
    sums); model + totals broadcast; see
    functions/text.py:quality_nb_report for the full scale story."""
    return tx.quality_nb_report(load(spark, sf_dir, "documents"))


@register("events_ab_test", f"""
WITH u AS (
  SELECT DISTINCT user_id,
         ({sql_md5_long("CAST(user_id AS VARCHAR)")}) % 2 AS bucket
  FROM events),
tot AS (
  SELECT CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM u),
tu AS (
  SELECT DISTINCT event_type, user_id,
         ({sql_md5_long("CAST(user_id AS VARCHAR)")}) % 2 AS bucket
  FROM events),
xs AS (
  SELECT event_type,
         CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS xa,
         CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS xb
  FROM tu GROUP BY event_type)
SELECT event_type, xa AS users_a, xb AS users_b,
       na AS n_users_a, nb AS n_users_b,
       CASE WHEN na = 0 OR nb = 0 OR xa + xb = 0 OR xa + xb = na + nb
            THEN NULL
            ELSE ROUND6(
              (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
               - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
              / sqrt(CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE)
                     * (1.0 - CAST(xa + xb AS DOUBLE)
                        / CAST(na + nb AS DOUBLE))
                     * (1.0 / CAST(na AS DOUBLE)
                        + 1.0 / CAST(nb AS DOUBLE))))
       END AS z_score
FROM xs, tot
""")
def events_ab_test(spark, sf_dir):
    """A/B experiment readout: users are deterministically split into
    two arms by a content-keyed hash of user_id (the same portable
    md5-60-bit primitive every sampling entry uses — never Spark's
    xxhash64, which DuckDB can't reproduce), and each event_type gets
    a two-proportion z-statistic for "did the user do this at least
    once" between the arms — the experimentation primitive behind
    every feature-launch dashboard. Counts are exact distinct-user
    integers (one shuffle to the (type, user) grain with map-side
    combine, one to the type grain); the 2-row arm-totals table
    broadcasts. The z-value itself is pure IEEE double arithmetic
    with an identical operation tree on both engines (division and
    sqrt are correctly rounded, so the result is bit-identical),
    quantized to 6 places; degenerate arms (an empty bucket, zero or
    total conversion — pooled variance 0) yield NULL rather than an
    ANSI divide-by-zero crash. Scale: the distinct is the only
    O(events) shuffle; everything after is |types| rows."""
    ev = load(spark, sf_dir, "events")
    bucket = F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2))
    u = ev.select("user_id").distinct().select(bucket.alias("bucket"))
    tot = u.agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0))
        .cast("long").alias("na"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0))
        .cast("long").alias("nb"))
    tu = (ev.select("event_type", "user_id").distinct()
          .select("event_type", bucket.alias("bucket")))
    xs = tu.groupBy("event_type").agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0))
        .cast("long").alias("xa"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0))
        .cast("long").alias("xb"))
    d = lambda c: F.col(c).cast("double")
    p = (F.col("xa") + F.col("xb")).cast("double") \
        / (F.col("na") + F.col("nb")).cast("double")
    z = ((d("xa") / d("na") - d("xb") / d("nb"))
         / F.sqrt(p * (F.lit(1.0) - p)
                  * (F.lit(1.0) / d("na") + F.lit(1.0) / d("nb"))))
    guard = ((F.col("na") == 0) | (F.col("nb") == 0)
             | (F.col("xa") + F.col("xb") == 0)
             | (F.col("xa") + F.col("xb") == F.col("na") + F.col("nb")))
    return (xs.crossJoin(F.broadcast(tot))
            .select("event_type",
                    F.col("xa").alias("users_a"),
                    F.col("xb").alias("users_b"),
                    F.col("na").alias("n_users_a"),
                    F.col("nb").alias("n_users_b"),
                    F.when(guard, F.lit(None).cast("double"))
                    .otherwise(round_portable(z)).alias("z_score")))


@register("events_mad_anomaly", """
WITH dx AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2),
med AS (
  SELECT event_type,
         CAST(floor(2.0 * quantile_cont(day_cents, 0.5) + 0.5) AS BIGINT)
           AS med2
  FROM dx GROUP BY event_type),
dev AS (
  SELECT dx.event_type, dx.day_idx, dx.day_cents,
         abs(2 * dx.day_cents - m.med2) AS dev2
  FROM dx JOIN med m ON m.event_type = dx.event_type),
mad AS (
  SELECT event_type,
         CAST(floor(2.0 * quantile_cont(dev2, 0.5) + 0.5) AS BIGINT) AS m4
  FROM dev GROUP BY event_type)
SELECT d.event_type, d.day_idx, d.day_cents,
       CAST(20000 AS HUGEINT) * d.dev2
         > CAST(44478 AS HUGEINT) * m.m4 AS is_outlier
FROM dev d JOIN mad m ON m.event_type = d.event_type
""")
def events_mad_anomaly(spark, sf_dir):
    """Robust daily-revenue anomaly flags via median absolute
    deviation — the outlier detector that survives what breaks the
    z-score (events_anomaly_zscore): a single huge day inflates
    μ and σ enough to mask itself, while the median/MAD pair has a
    50% breakdown point. Per (event_type, day) the cents total is
    exact int64; the per-type median and MAD live in DOUBLED integer
    domains (2·median of ints and 2·median of the integer deviations
    are always exact integers, interpolation included — Spark
    percentile == DuckDB quantile_cont, the established w5 parity),
    and the flag |x−med| > 3·1.4826·MAD cross-multiplies to
    20000·dev2 > 44478·m4 in decimal/HUGEINT — no float comparison
    ever, so boundary days can't flip between engines. Scale shape:
    one map-side-combined shuffle to the (type, day) grain, two
    |types|-row aggregate tables broadcast back; single-day types
    degenerate to dev2 = m4 = 0 → false."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dx = (ev.groupBy(
            "event_type",
            # floor spelling, not `div` — matches the oracle's // on
            # pre-1970 (negative-micros) timestamps
            F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
            .cast("long").alias("day_idx"))
          .agg(F.sum(_cents(F.col("value"))).alias("day_cents")))
    med = dx.groupBy("event_type").agg(
        F.floor(F.lit(2.0) * F.percentile("day_cents", F.lit(0.5))
                + F.lit(0.5)).cast("long").alias("med2"))
    dev = (dx.join(F.broadcast(med), "event_type")
           .select("event_type", "day_idx", "day_cents",
                   F.abs(F.lit(2) * F.col("day_cents") - F.col("med2"))
                   .alias("dev2")))
    mad = dev.groupBy("event_type").agg(
        F.floor(F.lit(2.0) * F.percentile("dev2", F.lit(0.5))
                + F.lit(0.5)).cast("long").alias("m4"))
    dec = lambda col: col.cast("decimal(38,0)")
    return (dev.join(F.broadcast(mad), "event_type")
            .select("event_type", "day_idx", "day_cents",
                    (dec(F.lit(20000)) * dec(F.col("dev2"))
                     > dec(F.lit(44478)) * dec(F.col("m4")))
                    .alias("is_outlier")))


@register("events_tv_drift", """
WITH base AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL),
mid AS (
  SELECT (min(d) + max(d)) // 2 AS mid_d FROM base),
bucketed AS (
  SELECT event_type,
         CASE WHEN d <= (SELECT mid_d FROM mid) THEN 0 ELSE 1 END AS half,
         CASE WHEN x = 0 THEN CAST(0 AS BIGINT)
              WHEN x > 0 THEN CAST(length(bin(x)) AS BIGINT)
              ELSE -CAST(length(bin(-x)) AS BIGINT)
         END AS bucket
  FROM base),
cb AS (
  SELECT event_type, bucket,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM bucketed GROUP BY 1, 2),
tot AS (
  SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
         CAST(sum(cb) AS BIGINT) AS nb
  FROM cb GROUP BY event_type),
num AS (
  SELECT c.event_type, t.na, t.nb,
         CAST(count(*) AS BIGINT) AS n_buckets,
         sum(abs(CAST(c.ca AS HUGEINT) * t.nb
                 - CAST(c.cb AS HUGEINT) * t.na)) AS num
  FROM cb c JOIN tot t ON t.event_type = c.event_type
  GROUP BY 1, 2, 3)
SELECT event_type, na AS n_first_half, nb AS n_second_half, n_buckets,
       CASE WHEN na = 0 OR nb = 0 THEN NULL
            ELSE CAST(floor(CAST(num AS DOUBLE) * 1000000.0
                            / (2.0 * CAST(na AS DOUBLE)
                               * CAST(nb AS DOUBLE)) + 0.5) AS BIGINT)
       END AS tv_micro
FROM num
""")
def events_tv_drift(spark, sf_dir):
    """Distribution-drift monitor: per event_type, the total-variation
    distance between the value distributions of the corpus's first and
    second half (split at the midpoint day), over exact signed-log2
    cent buckets — the drift check a training-data pipeline runs
    before trusting that yesterday's data looks like last month's.
    TV = ½·Σ|p_i − q_i| is chosen over PSI/KL deliberately: it needs
    no logarithm, so the numerator Σ|ca·nb − cb·na| is EXACT integer
    arithmetic (decimal/HUGEINT-widened — counts at petabyte scale
    overflow an int64 product) and only the final normalization
    touches a double, quantized to micros with an identical operation
    tree on both engines. Buckets via bit-length (the
    degree_stats/length_log2 pattern), sign-split so negative cents
    never reach bin()'s two's-complement form. Scale shape: one
    map-side-combined shuffle to the (type, bucket) grain (~60 rows
    per type), the per-type totals derived from it — the fact table
    is scanned once; the midpoint-day scalar broadcasts. An empty
    half (single-day corpus) yields NULL, not a crash."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        # floor spelling, not `div` — matches the oracle's // on
        # pre-1970 (negative-micros) timestamps; same for the midpoint
        # (day indices are far inside double-exact integer range)
        F.floor(F.unix_micros("ts") / F.lit(86400000000.0))
        .cast("long").alias("d"),
        _cents(F.col("value")).alias("x"))
    mid = base.agg(
        F.floor((F.min("d") + F.max("d")) / F.lit(2.0))
        .cast("long").alias("mid_d"))
    x = F.col("x")
    bucket = (F.when(x == 0, F.lit(0).cast("long"))
              .when(x > 0, F.length(F.bin(x)).cast("long"))
              .otherwise(-F.length(F.bin(-x)).cast("long")))
    bucketed = (base.crossJoin(F.broadcast(mid))
                .select("event_type",
                        F.when(F.col("d") <= F.col("mid_d"), 0)
                        .otherwise(1).alias("half"),
                        bucket.alias("bucket")))
    cb = bucketed.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long").alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long").alias("cb"))
    tot = cb.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"))
    dec = lambda col: col.cast("decimal(38,0)")
    num = (cb.join(F.broadcast(tot), "event_type")
           .groupBy("event_type", "na", "nb")
           .agg(F.count(F.lit(1)).alias("n_buckets"),
                F.sum(F.abs(dec(F.col("ca")) * dec(F.col("nb"))
                            - dec(F.col("cb")) * dec(F.col("na"))))
                .alias("num")))
    tv = F.floor(F.col("num").cast("double") * F.lit(1000000.0)
                 / (F.lit(2.0) * F.col("na").cast("double")
                    * F.col("nb").cast("double"))
                 + F.lit(0.5)).cast("long")
    return num.select(
        "event_type",
        F.col("na").alias("n_first_half"),
        F.col("nb").alias("n_second_half"),
        "n_buckets",
        F.when((F.col("na") == 0) | (F.col("nb") == 0),
               F.lit(None).cast("long")).otherwise(tv).alias("tv_micro"))


_KHOP_HOPS = 3
_KHOP_SEEDS = 3


def _khop_graph(spark, sf_dir, parts: int | None = None):
    """Shared prep for the k-hop family (batch + streaming twins):
    the undirected customer–supplier edge table and the top-degree
    seed frame, both persisted — the expansion loop joins edges once
    per hop (unpersisted, every hop re-ran the lineitem⋈orders
    distinct ancestry; persist_audit: Join subtree size=72 x10), and
    the tiny k-row seed frame is referenced once per hop (persists
    never evict siblings)."""
    from ..operators import cache

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # distinct on the INTEGER key pair, concat to node strings after:
    # the dedup shuffle carries 16 bytes/row instead of two strings
    # (guide: narrower types through the exchange); concat is
    # injective ("c"/"s" prefixes disjoint), so the pair set — and
    # every downstream hash — is unchanged
    e0 = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select("o_custkey", "l_suppkey").distinct()
          .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                  F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst")))
    und = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if parts:
        # partition-once for the topic-chained streaming consumers:
        # every hop's stream-static join keys on edges.src with
        # shuffle.partitions == parts, so a persisted
        # HashPartitioning(src, parts) + in-partition sort is reused
        # by ALL hops (and the degree groupBy) instead of re-sorting
        # the edge table inside every micro-batch
        und = und.repartition(parts, "src").sortWithinPartitions("src")
    edges = cache.maybe_persist(und)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    seeds = cache.maybe_persist(
        _topk_ranked(deg, [F.col("deg").desc(), F.col("node").asc()],
                     _KHOP_SEEDS, "rn")
        .select(F.col("node").alias("seed")))
    return edges, seeds


def _sql_khop(hops: int = _KHOP_HOPS, seeds: int = _KHOP_SEEDS) -> str:
    # AS MATERIALIZED throughout: each visited set is referenced twice
    # per hop (frontier anti-join + union), and DuckDB's default CTE
    # inlining doubles the plan per reference (the exponential-plan
    # trap sim_mmr_rerank hit)
    parts = [_sql_pagerank(iters=0), f"""_kh_seeds AS MATERIALIZED (
  SELECT node AS seed FROM _pr_deg
  ORDER BY deg DESC, node ASC LIMIT {seeds}),
_kh_v0 AS MATERIALIZED (SELECT seed, seed AS node FROM _kh_seeds)"""]
    for h in range(1, hops + 1):
        parts.append(f"""_kh_f{h} AS MATERIALIZED (
  SELECT v.seed, e.dst AS node
  FROM _kh_f{h - 1} v JOIN _pr_edges e ON e.src = v.node
  EXCEPT SELECT seed, node FROM _kh_v{h - 1})""".replace(
            "_kh_f0 v", "_kh_v0 v"))
        parts.append(f"""_kh_v{h} AS MATERIALIZED (
  SELECT seed, node FROM _kh_v{h - 1}
  UNION SELECT seed, node FROM _kh_f{h})""")
    selects = [f"SELECT seed, CAST(0 AS BIGINT) AS hop, "
               f"CAST(1 AS BIGINT) AS n_new FROM _kh_seeds"]
    for h in range(1, hops + 1):
        selects.append(f"SELECT seed, CAST({h} AS BIGINT) AS hop, "
                       f"CAST(count(*) AS BIGINT) AS n_new "
                       f"FROM _kh_f{h} GROUP BY seed")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL ".join(selects))


@register("graph_khop_reach", _sql_khop())
def graph_khop_reach(spark, sf_dir):
    """Multi-source k-hop reachability (breadth-first frontier
    expansion) over the customer–supplier trading graph: from the 3
    highest-degree hubs, how many NEW nodes become reachable at each
    of 3 hops — the blast-radius / influence-propagation primitive
    (and the building block of distributed shortest-path). Each hop
    is the Pregel step expressed in DataFrames: frontier ⋈ edges on
    the node key (equi-join, both sides partitioned by node),
    distinct to collapse parallel paths, anti-join against the
    visited set — all O(frontier·degree) with no global structure,
    the same shape at 3 hops on 1000 executors as here. Hop counts
    are exact set cardinalities (integers), so the result is
    engine-exact; seed choice is deterministic via the TakeOrdered
    top-k with a (degree, node) total order. The visited set is
    referenced twice per hop, so the logical plan doubles per
    iteration — bounded here by the fixed hop count (the DuckDB twin
    needs AS MATERIALIZED for the same reason, the sim_mmr_rerank
    lesson); an unbounded-depth variant would checkpoint per
    iteration like connected_components does."""
    from ..operators import cache

    edges, seeds = _khop_graph(spark, sf_dir)
    visited = seeds.select("seed", F.col("seed").alias("node"))
    frontier = visited
    out = seeds.select("seed", F.lit(0).cast("long").alias("hop"),
                       F.lit(1).cast("long").alias("n_new"))
    for h in range(1, _KHOP_HOPS + 1):
        nxt = (frontier.join(edges, frontier["node"] == edges["src"])
               .select("seed", F.col("dst").alias("node"))
               .distinct())
        # persist each hop's delta: it feeds THREE consumers (the
        # per-hop count, the visited union, and the next frontier) and
        # visited feeds two per hop (anti-join + union) — unpersisted,
        # the BFS lineage re-references each hop's ancestry a
        # compounding number of times (persist_audit: Join x14). The
        # standard distributed-BFS pattern: delta + visited persisted
        # per level, lineage stays linear in depth.
        new = cache.maybe_persist(
            nxt.join(visited, ["seed", "node"], "left_anti"))
        out = out.unionByName(
            new.groupBy("seed")
            .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
            .select("seed", F.lit(h).cast("long").alias("hop"), "n_new"))
        visited = cache.maybe_persist(
            visited.unionByName(new))
        frontier = new
    return out


@register("streaming_khop_reach", ORACLES["graph_khop_reach"])
def streaming_khop_reach(spark, sf_dir):
    """K-hop frontier expansion on the LIVE streaming runtime (round
    15 — the graph family's first on-ingest form): the seed frontier
    arrives on a FileTopic (plans/market.py — the broker-less Kafka
    stand-in the composed market dataflow already uses), and ONE
    availableNow query expands it; inside foreachBatch each hop is a
    batch equi-join of the current frontier against the persisted
    edge table, a distinct, and an anti-join against the hops already
    reached, with every hop's delta appended to its own hop topic —
    the same topic-per-hop boundary the per-stage form produced, so
    the final batch count over the hop topics (and the shared oracle)
    is unchanged.

    r18 optimization (guide §2 — the r17 verdict's task 4): the r15
    form ran one SEPARATE streaming query per hop, so the entry paid
    {3} full query lifecycles (source listing, planning, state runtime
    startup, sink commit) ≈ 3x the machinery floor before any graph
    work — the bench's most expensive head (driver min 10.3 s; this
    VM 11.6 s round-start). Chaining the hops inside one lifecycle's
    foreachBatch keeps the streaming semantics exact: a micro-batch
    carries a subset of SEED rows, per-seed reachability is
    independent of every other seed (every join/anti-join keys on
    (seed, node)), so expanding each batch's seeds to completion and
    appending per-hop deltas commutes with ANY micro-batching of the
    seed stream — the same additivity argument the LPA per-batch
    partials ride. The stateful dropDuplicates per stage is subsumed
    by the in-batch distinct (seeds are disjoint across batches, so
    cross-batch dedup state was never exercised). At 100 TB the seed
    topic is Kafka, the per-hop joins stay partitioned on the node
    key, and memory is bounded by one batch's frontier, never the
    stream history."""
    from .market import FileTopic

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    edges, seeds = _khop_graph(spark, sf_dir, parts=int(_STREAM_PARTS))
    base = _scratch("khop_stream_")
    schema = "seed string, node string"
    topics = [os.path.join(base, "hop0")]
    seeds.select("seed", F.col("seed").alias("node")).coalesce(1) \
        .write.mode("overwrite").json(topics[0])
    hop_topics = []
    for h in range(1, _KHOP_HOPS + 1):
        topic = FileTopic(os.path.join(base, f"hop{h}"), schema)
        # pre-create: an empty frontier writes no files, and the
        # final report's read needs the directory to exist
        os.makedirs(topic.path, exist_ok=True)
        hop_topics.append(topic)
        topics.append(topic.path)

    def _expand_batch(bdf, _id):
        # batch-local BFS over this micro-batch's seeds (disjoint
        # from every other batch's — see docstring)
        persisted = []
        visited = frontier = bdf
        try:
            for topic in hop_topics:
                nxt = (frontier.join(edges,
                                     frontier["node"] == edges["src"])
                       .select("seed", F.col("dst").alias("node"))
                       .distinct())
                new = nxt.join(visited, ["seed", "node"], "left_anti") \
                    .persist()
                persisted.append(new)
                topic.append_batch(new)
                visited = visited.unionByName(new).persist()
                persisted.append(visited)
                frontier = new
        finally:
            for df in persisted:
                df.unpersist()

    ckpt = _scratch("khop_ckpt_")
    # _STREAM_PARTS (not a pinned 16, r17): fewer state-store
    # instances measured faster, like every other streaming entry
    with _stream_partitions(spark):
        q = (spark.readStream.schema(schema).json(topics[0])
             .writeStream.foreachBatch(_expand_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        _await_done(q, 300)
    shutil.rmtree(ckpt, ignore_errors=True)
    per_hop = [
        spark.read.schema(schema).json(t)
        .select("seed", F.lit(h).cast("long").alias("hop"))
        for h, t in enumerate(topics)]
    allr = per_hop[0]
    for df in per_hop[1:]:
        allr = allr.unionByName(df)
    return allr.groupBy("seed", "hop").agg(
        F.count(F.lit(1)).cast("long").alias("n_new"))


@register("streaming_label_propagation",
          ORACLES["graph_label_propagation"])
def streaming_label_propagation(spark, sf_dir):
    """Label propagation ON-INGEST (round 16) — the graph family's
    second live-runtime member, on the topic-chained availableNow
    machinery streaming_khop_reach proved: each of the {3} synchronous
    LPA iterations is a streaming stage whose FRONTIER (the previous
    iteration's resolved labels) arrives on a topic, stream-static
    equi-joins the persisted edge table on the node key to produce
    neighbor votes, unions the self-vote (the oscillation damper the
    batch twin uses), and JVM-aggregates each micro-batch's votes to
    PARTIAL (node, lbl, cnt) counts in the sink (foreachBatch
    groupBy(node, lbl).count() — a batch hash aggregate with map-side
    combine); the stage resolve SUMS the partials per (node, lbl) and
    takes the argmax (max count, ties to the SMALLEST label — the
    batch twin's tie order) to the next topic.

    r17 optimization ladder (guide §4.1/§2.3, measured at sf0.1):
    the r16 form invoked a python vote-counting fn once per NODE KEY
    per micro-batch (~|V| pandas round-trips) and shipped every vote
    event through the Python boundary — 84 s vs the khop twin's 5 s
    on the identical topic-chained machinery. A native update-mode
    STATEFUL streaming aggregation removed the Python boundary but
    paid ~|E| state-store puts per iteration for cross-batch state an
    availableNow drain never amortizes (17.4 s per stage lifecycle,
    RocksDB provider; the HDFS-backed provider OOMs a default-heap
    local driver because iteration-1 state is one row per DISTINCT
    (node, lbl) = O(|E|)). The per-batch-partials form is 2.3 s per
    lifecycle against the 1.2 s passthrough floor AND carries no
    operator state at all — memory is bounded by the micro-batch, not
    the graph. Exactness under ANY micro-batching is the additive-
    merge law stateful.lpa_vote_step pins in its random-chunking
    property test: per-batch counts sum to the batch twin's vote
    count; native-vs-step equivalence is additionally pinned by
    tests/test_round17.py. (A stage's availableNow query must
    terminate before its topic is treated as static — plans/market.py
    FileTopic.) Shares the batch entry's oracle AND finisher
    (_lpa_top_communities), so the live runtime's own output is what
    the driver verifies. At 100 TB the topics are Kafka, the
    per-stage join stays partitioned on the node key, and the partial
    counts crossing the sink are bounded by distinct (node, lbl)
    pairs per batch — never event volume."""
    from .market import FileTopic

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    edges, _seeds = _khop_graph(spark, sf_dir, parts=int(_STREAM_PARTS))
    base = _scratch("lpa_stream_")
    schema = "node string, lbl string"
    cur = os.path.join(base, "r0")
    (edges.select("src").distinct()
     .select(F.col("src").alias("node"), F.col("src").alias("lbl"))
     .coalesce(1).write.mode("overwrite").json(cur))
    # _STREAM_PARTS for the same reason as streaming_khop_reach (r17)
    with _stream_partitions(spark):
        for it in range(1, _LPA_ITERS + 1):
            frontier = spark.readStream.schema(schema).json(cur)
            votes = (frontier.join(edges,
                                   frontier["node"] == edges["src"])
                     .select(F.col("dst").alias("node"), "lbl")
                     .unionByName(frontier.select("node", "lbl")))
            topic = FileTopic(os.path.join(base, f"v{it}"),
                              "node string, lbl string, cnt long")
            os.makedirs(topic.path, exist_ok=True)

            def _partial_counts(bdf, _id, _topic=topic):
                # per-batch PARTIAL counts: additive, so the resolve's
                # sum is exact under any micro-batching
                _topic.append_batch(
                    bdf.groupBy("node", "lbl").agg(
                        F.count(F.lit(1)).alias("cnt")))

            ckpt = _scratch("lpa_ckpt_")
            q = (votes.writeStream.foreachBatch(_partial_counts)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            _await_done(q, 300)
            shutil.rmtree(ckpt, ignore_errors=True)
            nxt = os.path.join(base, f"r{it}")
            (spark.read.schema(topic.schema).json(topic.path)
             .groupBy("node", "lbl").agg(F.sum("cnt").alias("cnt"))
             .groupBy("node")
             .agg(F.min_by(
                 "lbl", F.struct((-F.col("cnt")).alias("nc"),
                                 F.col("lbl").alias("lb"))).alias("lbl"))
             .coalesce(1).write.mode("overwrite").json(nxt))
            cur = nxt
    labels = spark.read.schema(schema).json(cur)
    return _lpa_top_communities(labels)


@register("pipeline_incremental_dedup", f"""
WITH pairs AS ({dd.sql_minhash_lsh_pairs('documents')}),
newd AS (SELECT doc_id, md5(text) AS h FROM documents
         WHERE doc_id % 10 = 9),
corp AS (SELECT doc_id, md5(text) AS h FROM documents
         WHERE doc_id % 10 <> 9),
exact_ids AS (
  SELECT DISTINCT n.doc_id FROM newd n
  JOIN corp c ON c.h = n.h),
near_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT p.id_a AS doc_id FROM pairs p
    WHERE p.est_jaccard >= 0.5 AND p.id_a % 10 = 9 AND p.id_b % 10 <> 9
    UNION ALL
    SELECT p.id_b AS doc_id FROM pairs p
    WHERE p.est_jaccard >= 0.5 AND p.id_b % 10 = 9 AND p.id_a % 10 <> 9)
  WHERE doc_id NOT IN (SELECT doc_id FROM exact_ids))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM newd) AS n_new,
       (SELECT CAST(count(*) AS BIGINT) FROM exact_ids)
         AS n_exact_dropped,
       (SELECT CAST(count(*) AS BIGINT) FROM near_ids)
         AS n_near_dropped,
       (SELECT CAST(count(*) AS BIGINT) FROM newd)
         - (SELECT CAST(count(*) AS BIGINT) FROM exact_ids)
         - (SELECT CAST(count(*) AS BIGINT) FROM near_ids) AS n_kept
""")
def pipeline_incremental_dedup(spark, sf_dir):
    """Incremental (cross-snapshot) dedup: a NEW ingest batch (docs
    with doc_id ≡ 9 mod 10 — a deterministic stand-in for "this
    week's crawl") is deduped against the EXISTING corpus, the
    production shape where re-deduping the full corpus per ingest is
    unaffordable: (1) exact drops via content-hash semi-join against
    the corpus hash set; (2) near drops via MinHash-LSH candidate
    pairs (est_jaccard ≥ 0.5) that straddle the snapshot boundary —
    intra-batch duplicates are deliberately NOT dropped here (that is
    the dedup_* family's job; this entry isolates the cross-snapshot
    axis). Returns the one-row ingest report (new / exact-dropped /
    near-dropped / kept). Scale: the hash semi-join and the banded
    LSH join are both equi-joins keyed on uniform digests — the new
    batch is typically ≪ corpus, so both broadcast the batch side;
    NULL-text docs carry no content hash and are kept (md5(NULL)
    propagates NULL in both engines — the '||'-vs-concat contract)."""
    docs = load(spark, sf_dir, "documents")
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) == 9
    newd = docs.filter(is_new).select("doc_id", F.md5("text").alias("h"))
    corp = docs.filter(~is_new).select(F.md5("text").alias("h"))
    from ..operators import cache
    # persist the shared frames: exact_ids feeds the near-dup anti-join
    # AND its counter; the LSH pair frame feeds both direction filters
    # (persist_audit)
    exact_ids = cache.maybe_persist(
        newd.join(corp, "h", "semi").select("doc_id").distinct())
    pairs = cache.maybe_persist(
        dd.minhash_lsh_pairs(docs.select("doc_id", "text")).filter(
            F.col("est_jaccard") >= 0.5))
    new_a = (pairs.filter((F.pmod(F.col("id_a"), F.lit(10)) == 9)
                          & (F.pmod(F.col("id_b"), F.lit(10)) != 9))
             .select(F.col("id_a").alias("doc_id")))
    new_b = (pairs.filter((F.pmod(F.col("id_b"), F.lit(10)) == 9)
                          & (F.pmod(F.col("id_a"), F.lit(10)) != 9))
             .select(F.col("id_b").alias("doc_id")))
    near_ids = (new_a.unionByName(new_b).distinct()
                .join(exact_ids, "doc_id", "left_anti"))
    a = newd.agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    b = exact_ids.agg(F.count(F.lit(1)).cast("long")
                      .alias("n_exact_dropped"))
    c = near_ids.agg(F.count(F.lit(1)).cast("long")
                     .alias("n_near_dropped"))
    return (a.crossJoin(b).crossJoin(c)
            .select("n_new", "n_exact_dropped", "n_near_dropped",
                    (F.col("n_new") - F.col("n_exact_dropped")
                     - F.col("n_near_dropped")).alias("n_kept")))


# ===========================================================================
# Gate-window ordering
# ===========================================================================
# The driver's per-round correctness gate grades the FIRST 50 registered
# queries. Rounds 2+3 put 92 of the then-99 entries under the gate at
# least once; the round-4 window below completes and refreshes coverage:
#   - the 7 entries NEVER driver-graded in any round (registered at
#     positions 92-98 in rounds 2-3);
#   - the 4 NEW round-4 live-streaming entries (ST4/ST7/ST9/ST10 — every
#     ST family now runs on the real engine);
#   - every entry whose physical plan changed in round 3 or 4 after its
#     last grading: the two-phase consumers (conditional persist +
#     struct-keyed null-safe as-of landed r4), sim_lsh_ann (r3), and
#     streaming_st8_timer (r4 diagnostics + conf pin);
#   - the remaining round-2-only entries, minus 9 one-line stateless
#     p-series filters (r2-green, untouched since — they and the
#     r3-graded block stay registered after position 50, runnable by
#     tools/check_correctness.py).

# Round-6 window (historical): the type-adaptive events-loader fix
# changed the load path of EVERY events-touching entry, so all 50 slots
# went to them — 50/50 green in CORRECTNESS_r06.json.

# Round-7 window: testdata regenerates between rounds, so a driver row
# is the only drift-proof signal. 65 entries have no round-6 row; the
# 50 slots go to them, leading with the 2 entries NEVER driver-graded
# in any round (join_range_bucketed, streaming_w7_sliding — both added
# in round 6). The 15 deferred entries are the lowest-drift-risk ones:
# the 7 one-line stateless p-series filters (r2-green, code-unchanged),
# hash_family_check (pure-function diagnostic, no table input),
# st1_ema_per_event / w5_median_value_per_team / st8_return_amounts
# (their oracle twins streaming_st1_ema / the w5 family /
# streaming_st8_timer are r6-green on the same loaders), and the four
# streaming twins streaming_st{4,7,9,10}_* whose batch twins went
# r6-green through the identical type-adaptive loader. The 11 NEW
# round-7 entries (sketch/mixing/surprisal families + 4 TPC-H shapes)
# register after the window — locally oracle-green this round, to be
# rotated in next round together with the 15 deferred. All entries
# still run locally via tools/check_correctness.py.
# Round-8 window (historical): the 11 round-7 additions + 15 deferred
# + 5 round-8 additions + 19 events-loader-changed entries — 50/50
# green in CORRECTNESS_r08.json.

# Round-9 window (historical): generated by gate_window.py --since
# d138f96; all 50 slots to the never-graded round-8 additions — 50/50
# green in CORRECTNESS_r09.json.

# r12 gate window (final): 11 never-graded round-12 additions (the
# early four: phash dedup, priority sample, decontam, the absence
# twin; plus the late seven: frame sample + streaming twin, WAV
# decode, video/audio near-dup, sharded streaming sample, the
# multimodal curation funnel — each locally oracle-green at sf0.01
# AND sf0.1) + the
# 30 entries whose CODE or PLAN genuinely changed this round (verdict
# fixes, advisory fixes + their PQ family, the persist-audit plan
# restructures, the entry-wrapper raw-fn rewires) + stalest-green
# fills from the generator's list. MANUAL triage this round: the
# register()-wrapper change (entry-scoped cache release) moved EVERY
# entry's transitive fingerprint, so `gate_window.py --since 1242c3c`
# reports all 237 as changed and its stalest-first fill drowns the 30
# real edits — the known drift-class where a global-helper touch
# floods the diff; the full 241-entry local gate passed after the
# change (the backstop for the un-windowed rest).
# r13 gate window (generated: gate_window.py --window --since e5ef263,
# taken verbatim): 4 never-graded round-13 additions (the JPEG/PNG
# codec entries — each locally oracle-green at sf0.01 AND sf0.1) + 43
# changed-fingerprint entries (the P5 dims guard -> multimodal
# families; the cache soft bound -> two-phase/asof/dedup consumers;
# the priority-sample dedup -> stateful streaming entries; the PQ
# sample-then-train family; the BPE rewrite; the staged-sentinel
# left-outer join) + the never-graded pipeline_bpe_fertility and
# streaming_bpe_fertility + 1 stalest fill from the r7 block
# (tpch_q1 — the rest of that cohort rotates in r14; the full
# local sweeps this round, sf0.01 AND sf0.1, are the backstop for
# the un-windowed rest).
# r14 gate window (generated: gate_window.py --window --since ee9b380):
# 1 never-graded (mm_decode_png_rgb) + 15 changed-fingerprint entries
# (the BPE OOV/stateless-fertility rewrite; the recall-family
# _grouped_top5 rewrite; the PQ sample_mod default) + 4 MANUAL adds
# (mm_decode_jpeg / streaming_decode_jpeg / mm_jpeg_phash_dedup /
# mm_decode_png import their codecs inside function bodies, the
# documented fingerprint blind spot — jpeg.py gained restart markers
# and png.py the shared _decode_png core this round; each re-verified
# locally at sf0.01 AND sf0.1) + 30 stalest fills from the r7 cohort
# (per the r13 verdict's staleness burn-down; the last 4 of the
# generator's fill are displaced by the manual adds and roll to r15).
# r15 gate window (generated: gate_window.py --window --since 168dee6,
# UNIFIED STALEST-FIRST — the r15 policy change the r14 verdict asked
# for): 8 never-graded front (the 3 r14 late additions sim_ivf_assign /
# streaming_ivf_assign / streaming_decode_png_rgb + the 5 round-15
# additions mm_decode_jpeg_progressive / mm_decode_png_palette /
# mm_decode_report / mm_decode_wav16 / streaming_khop_reach — each
# locally oracle-green at sf0.01 AND sf0.1), then 42 stalest fills:
# ALL 15 remaining r7-graded entries and 27 of the 41 r8 cohort.
# Arithmetic: 3 + 5 + 56 stale = 64 must-grades > 50 slots, so 14 r8
# entries necessarily roll to r16 (listed in the generator comment
# above the list); after this gate, zero entries are last-graded
# <= r7 and the r8 residue is 14. The 11 changed-but-recently-graded
# entries (jpeg.py/png.py/multimodal importers re-fingerprinted by
# this round's codec work; sim_pq_trained_recall via the sql default
# mirror) are DEFERRED per the stalest-first policy — each was
# re-verified locally at sf0.01 AND sf0.1 this round and their
# oracles are unchanged; re-front them in r16:
# graph_khop_reach, mm_audio_dedup, mm_decode_jpeg, mm_decode_png,
# mm_decode_png_rgb, mm_decode_wav, mm_jpeg_phash_dedup,
# mm_phash_dedup, pipeline_multimodal_curation, sim_pq_trained_recall,
# streaming_decode_jpeg.
# r16 gate window (generated: gate_window.py --window --since bfdf5ea,
# then ONE verdict-mandated manual edit): the generator's unified
# stalest-first window fronted the 6 never-graded (the 3 r15 late
# additions mm_decode_png_pal4 / mm_decode_wav_stereo /
# streaming_decode_report + the 3 round-16 additions mm_decode_png_rgba
# / mm_decode_png_wide / streaming_label_propagation — plus the late
# round-16 adds mm_decode_wav_wide, mm_decode_png_pal_trns and
# mm_decode_gif + its on-ingest twin streaming_decode_gif +
# mm_gif_frame_sample + streaming_gif_frame_sample +
# mm_decode_wav_ulaw + mm_decode_wav_alaw, displacing eight more r9
# fills), took ALL 14
# remaining r8-graded entries, and filled with 30 r9-graded. The r15
# verdict's task 5 additionally mandates the 11 entries it DEFERRED as
# changed-but-recently-graded be re-fronted as a NAMED cohort this
# round (a changed implementation with a 2-round-old grade is where a
# silent regression could hide) — so the 11 least-stale r9 fills
# (events_markov_transitions .. join_fuzzy_names, per the generator's
# own fill order; they roll to r17) are displaced by that cohort:
# graph_khop_reach, mm_audio_dedup, mm_decode_jpeg, mm_decode_png,
# mm_decode_png_rgb, mm_decode_wav, mm_jpeg_phash_dedup, mm_phash_dedup,
# pipeline_multimodal_curation, sim_pq_trained_recall,
# streaming_decode_jpeg. Final composition: 6 never + 11 named deferred
# + 14 r8 + 19 r9 — after this gate, zero entries are last-graded <= r8.
# This round's OWN changed-fingerprint-but-deferred cohort (the
# generator lists 48 — dominated by the stateful.py vectorization and
# multimodal.py composite work folding into every importer's
# fingerprint) was re-verified locally: the FULL oracle gate ran green
# at sf0.01 and sf0.1 this round (see CHANGES.md), the backstop for
# everything un-windowed; re-front genuinely-changed ones in r17:
# st1_ema, st1_ema_per_event, st6_per_event_ledger, streaming_st1_ema,
# streaming_st2_product, streaming_st6_ledger, graph_label_propagation,
# mm_decode_jpeg_progressive, mm_decode_report, streaming_khop_reach
# (the rest re-fingerprinted without behavior change).
# r17 gate window (generated: gate_window.py --window --since dc20105,
# then ONE verdict-mandated manual edit, the same shape as r16's): the
# generator fronted the 4 never-graded round-17 additions
# (mm_gif_frame_composite + its on-ingest twin, mm_decode_wav_adpcm,
# mm_audio_dedup_shift — each locally oracle-green at sf0.01 AND
# sf0.1), took ALL 30 remaining r9-graded entries, and filled with 16
# r10-graded. The r17 verdict's task 1 mandates the 10 entries r16
# DEFERRED as changed-but-recently-graded be re-fronted as a NAMED
# cohort (listed above; a changed implementation with a stale grade is
# the only place a silent regression can hide), displacing the 10
# least-stale r10 fills; the 6 LATE round-17 additions (mm_decode_bmp,
# mm_decode_tiff and mm_decode_aiff + their on-ingest twins, each
# oracle-green at sf0.001/0.01/0.1 locally) front as never-graded,
# displacing 6 more. Final composition: 10 never + 10 named + 30 r9 —
# the window is now saturated: any further round-17 addition would
# displace an r9 entry past the staleness ceiling, so additions after
# this point must defer to r18 as never-graded. After this gate, zero
# entries are last-graded <= r9; ALL 20 r10 entries
# (text_bpe_pair_stats, graph_degree_stats, scan_orc_roundtrip,
# join_bloom_prefilter, sketch_hll_daily_merge, text_char_entropy,
# events_sliding_hll_uniques, streaming_sliding_hll_uniques,
# sketch_kmv_jaccard, basket_lift_pairs, events_cusum_changepoint,
# pipeline_quality_classifier, p12_updaters, dedup_semantic,
# p06b_invalid_orders, p09_hype_words, p01_buy_sell, p06_parse_orders,
# streaming_basket_pairs, streaming_sketch_kmv) are exactly 7 rounds
# stale (the enforced ceiling — gate_window.py's generation assertion)
# and MUST lead r18's fills. This
# round's OWN genuinely-changed-but-deferred cohort (executed code
# changed, latest grade predates it; full sf0.01 + sf0.1 local sweeps
# this round are the backstop) to re-front in r18: st3_bubble_burst,
# streaming_st3_burst, streaming_st10_delta, streaming_st4_combiner
# (bubble_burst/latest_side/ema_combiner steps gained vectorized
# paths), and the _parse_wav consumers graded r16 — mm_decode_wav,
# mm_decode_wav16, mm_decode_wav_stereo, mm_decode_wav_wide,
# mm_decode_wav_ulaw, mm_decode_wav_alaw, streaming_decode_report,
# mm_audio_dedup (the fmt-gate expression gained the 0x11 branch,
# and the round-close review bounded the RIFF/FORM chunk walks by the
# DECLARED size so trailing non-IFF junk can't kill intact payloads —
# corpus outputs pinned unchanged by tests + a 13-entry oracle
# re-verify). Registered after this window locked and therefore
# never-graded, auto-fronting r18: mm_decode_ico,
# streaming_decode_ico, mm_decode_flac, streaming_decode_flac
# (round-close additions, oracle-green at all three SFs + audited
# individually). The rest of the
# generator's changed-deferred list re-fingerprinted without executed-
# code change (module-fold coarseness: docstring justifications on
# cep/order-buffer steps, additive gif.py/multimodal.py functions).
_GATE_PRIORITY = [
    "mm_gif_frame_composite",
    "streaming_gif_frame_composite",
    "mm_decode_wav_adpcm",
    "mm_audio_dedup_shift",
    "mm_decode_bmp",
    "streaming_decode_bmp",
    "mm_decode_tiff",
    "streaming_decode_tiff",
    "mm_decode_aiff",
    "streaming_decode_aiff",
    "st1_ema",
    "st1_ema_per_event",
    "st6_per_event_ledger",
    "streaming_st1_ema",
    "streaming_st2_product",
    "streaming_st6_ledger",
    "graph_label_propagation",
    "mm_decode_jpeg_progressive",
    "mm_decode_report",
    "streaming_khop_reach",
    "dedup_cluster_sizes",
    "sim_dim_mean_report",
    "pipeline_epoch_shuffle",
    "pipeline_cdc_upsert",
    "pipeline_dataset_diff",
    "text_top_terms_per_doc",
    "pipeline_length_quantiles",
    "events_value_rank_report",
    "events_markov_transitions",
    "events_session_paths",
    "events_page_dwell",
    "events_rolling_7d",
    "events_trend_slope",
    "events_max_drawdown",
    "events_type_correlation",
    "events_dau_wau",
    "join_bucketed_colocated",
    "scan_partition_pruned",
    "join_fuzzy_names",
    "scan_jsonl_permissive",
    "scan_csv_permissive",
    "scan_schema_evolution",
    "events_anomaly_zscore",
    "tpch_cube",
    "events_type_pivot",
    "tpch_q8ish",
    "tpch_q9ish",
    "tpch_q10ish",
    "tpch_q11ish",
    "sketch_kmv_distinct",
]



_unknown = set(_GATE_PRIORITY) - set(QUERIES)
if _unknown:
    raise RuntimeError(
        f"_GATE_PRIORITY names not registered: {sorted(_unknown)}")
if len(_GATE_PRIORITY) != len(set(_GATE_PRIORITY)):
    raise RuntimeError("_GATE_PRIORITY contains duplicates")


def _gate_order(d: dict) -> dict:
    out = {k: d[k] for k in _GATE_PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


QUERIES = _gate_order(QUERIES)
ORACLES = _gate_order(ORACLES)
