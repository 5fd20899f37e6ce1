"""``exchange_live``: the paper's settlement path, run live.

An open-loop generator writes the seq-ordered exchange ops (prices,
orders, investments, feeds) as one parquet file per tick into an input
directory. Stage 1 (``market.stage1_updaters``) settles orders at the
latest price and appends the updaters to a ``FileTopic``; stage 2
(``market.stage2_ledger``) reads the topic back and folds each trader's
ledger into TxnResults, which a foreachBatch sink stamps with the time
it saw them. After the timed window, a fixed backlog is written at once
and the time to drain it is measured, three times over.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

from mktd6_flink_spark.plans import market

from . import gen
from .record import median, percentile

RATE_OPS_S = 25          # offered rate; a 1,000-op backlog drains ~10x faster
TICK_S = 0.2             # one input file per tick
WARM_TICKS = 30          # fixed warm-up: 6 s of ticks through both stages
BACKLOG_OPS = 1000       # written at once, after the window, DRAINS times
DRAINS = 3
WAIT_LIMIT_S = 60.0      # longest wait for the sink to catch up

OPS_PER_TICK = int(RATE_OPS_S * TICK_S)
RESULT_COLS = ("txnId", "trader", "type", "status", "coins", "shares",
               "bailouts", "fedMonkeys", "inFlightInvestments")


@dataclass
class Sink:
    """Stage-2 TxnResults with the wall time each was first seen."""
    seen: dict = field(default_factory=dict)     # txnId -> (row, t_seen)
    dupes: int = 0
    cond: threading.Condition = field(default_factory=threading.Condition)

    def add(self, rows) -> None:
        now = time.time()
        with self.cond:
            for r in rows:
                if r[0] in self.seen:
                    self.dupes += 1
                else:
                    self.seen[r[0]] = (tuple(r), now)
            self.cond.notify_all()

    def wait_for(self, txn_ids, limit_s: float) -> bool:
        deadline = time.time() + limit_s
        with self.cond:
            while not all(t in self.seen for t in txn_ids):
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(min(left, 0.5))
        return True


class ProgressLog:
    """Every progress update of the two queries, kept in memory. The
    traced run registers it as a StreamingQueryListener; the untraced
    run fills it from ``recentProgress`` after the drain."""

    def __init__(self):
        self.by_query: dict[str, list[dict]] = {}

    def add(self, name: str, progress_json: str) -> None:
        self.by_query.setdefault(name, []).append(json.loads(progress_json))

    def batches(self, name: str) -> list[dict]:
        """Progress of the micro-batches that read input, by batch id."""
        out = {p["batchId"]: p for p in self.by_query.get(name, [])
               if p.get("numInputRows", 0) > 0}
        return [out[k] for k in sorted(out)]


def _listener(log: ProgressLog, names: dict):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            log.add(names.get(str(p.id), str(p.id)), p.json)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def end_s(p: dict) -> float:
    """Wall time at which a micro-batch finished (its progress stamps
    the trigger start in UTC)."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return (start.replace(tzinfo=timezone.utc).timestamp()
            + p["durationMs"]["triggerExecution"] / 1000.0)


def source_batches(checkpoint: str) -> dict[str, int]:
    """{input file name: file-source batch id}, from the source log in a
    query's checkpoint (compacted or not)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def backlog_series(files: list[tuple[float, str]], batches: list[dict],
                   file_batch: dict[str, int],
                   times: list[float]) -> list[int]:
    """Input files written but not yet committed by stage 1, at each of
    ``times``. ``files`` is (write time, name); a committed micro-batch
    has read every file whose source batch id is at most its end
    offset."""
    commits = [(end_s(p), p["sources"][0]["endOffset"]["logOffset"])
               for p in batches]
    out = []
    for t in times:
        done = max((off for end, off in commits if end <= t), default=-1)
        out.append(sum(1 for wt, name in files if wt <= t
                       and file_batch.get(name, done + 1) > done))
    return out


def backlog_growing(backlog: list[int]) -> bool:
    """True when the last third's peak exceeds the middle third's by
    more than a quarter plus two files."""
    third = max(1, len(backlog) // 3)
    return max(backlog[-third:]) > 1.25 * max(backlog[third:-third] or
                                               backlog) + 2


def run(spark, tracer, seed: int, seconds: int, work: str) -> dict:
    """Run ``exchange_live`` once; returns its measurements and check."""
    window_ticks = int(round(seconds / TICK_S))
    n_tick_ops = (WARM_TICKS + window_ticks) * OPS_PER_TICK
    with tracer.span("inputs.generate"):
        ops = gen.exchange_ops(seed, n_tick_ops + DRAINS * BACKLOG_OPS)
    in_dir, topic_dir = os.path.join(work, "in"), os.path.join(work, "topic")
    staging = os.path.join(work, "staging.parquet")
    os.makedirs(in_dir)
    os.makedirs(topic_dir)

    sink = Sink()
    append_ms: list[float] = []
    root = tracer.current()

    def stage1_batch(df, batch_id):
        with tracer.span("stage1.foreachBatch", parent=root, batch=batch_id):
            t0 = time.perf_counter()
            topic.append_batch(df)
            append_ms.append((time.perf_counter() - t0) * 1000.0)

    def stage2_batch(df, batch_id):
        with tracer.span("stage2.foreachBatch", parent=root, batch=batch_id):
            sink.add(df.select(*RESULT_COLS).collect())

    with tracer.span("plans.market.build"):
        src = spark.readStream.schema(gen.OPS_DDL).parquet(in_dir)
        kind = F.col("kind")
        updates = market.stage1_updaters(
            src.filter(kind == "ORDER").select(
                "trader", "seq", "time_ms", "txnId", "type", "shares"),
            src.filter(kind == "PRICE").select("seq", "time_ms", "price"),
            src.filter(kind == "INVEST").select(
                "trader", "seq", "txnId", "invested"),
            src.filter(kind == "FEED").select(
                "trader", "seq", "txnId", "monkeys"))
        topic = market.FileTopic(topic_dir, market.UPDATER_SCHEMA)
        txns = market.stage2_ledger(topic.read_stream(spark))
    log = ProgressLog()
    listener = None
    try:
        with tracer.span("plans.market.start"):
            q1 = (updates.writeStream.queryName("stage1")
                  .foreachBatch(stage1_batch)
                  .option("checkpointLocation", os.path.join(work, "ck1"))
                  .start())
            q2 = (txns.writeStream.queryName("stage2")
                  .foreachBatch(stage2_batch)
                  .option("checkpointLocation", os.path.join(work, "ck2"))
                  .start())
        if tracer.enabled:
            listener = _listener(log, {str(q1.id): "stage1",
                                       str(q2.id): "stage2"})
            spark.streams.addListener(listener)
        res = _drive(tracer, ops, in_dir, staging, sink, log, (q1, q2),
                     window_ticks, os.path.join(work, "ck1"))
        res["append_ms"] = append_ms
        return res
    finally:
        for q in spark.streams.active:
            q.stop()
        if listener is not None:
            spark.streams.removeListener(listener)


def _drive(tracer, ops, in_dir, staging, sink, log, queries, window_ticks,
           checkpoint: str) -> dict:
    q1, q2 = queries
    files: list[tuple[float, str]] = []   # (write time, name) per file
    due: dict[str, float] = {}           # txnId -> due wall time
    late: list[float] = []               # generator lateness per tick

    def write(k: int, chunk, due_s: float) -> None:
        name = f"{k:06d}.parquet"
        gen.write_ops_file(chunk, [int(due_s * 1000)] * len(chunk), staging,
                           os.path.join(in_dir, name))
        files.append((time.time(), name))
        for op in chunk:
            if op.txn_id is not None:
                due[op.txn_id] = due_s

    def ticks(first: int, count: int, origin: float, parent) -> None:
        for k in range(first, first + count):
            due_s = origin + (k - first) * TICK_S
            pause = due_s - time.time()
            if pause > 0:
                time.sleep(pause)
            with tracer.span("generator.tick", parent=parent, tick=k):
                write(k, ops[k * OPS_PER_TICK:(k + 1) * OPS_PER_TICK], due_s)
            late.append(time.time() - due_s)

    def txns(lo: int, hi: int) -> list[str]:
        return [op.txn_id for op in ops[lo:hi] if op.txn_id is not None]

    # fixed warm-up, part of set-up: WARM_TICKS ticks at the offered
    # rate, carried through both stages (about three micro-batches each;
    # batch cost keeps falling over the first few)
    with tracer.span("session.warmup"):
        ticks(0, WARM_TICKS, time.time(), tracer.current())
        warm_ok = sink.wait_for(txns(0, WARM_TICKS * OPS_PER_TICK),
                                WAIT_LIMIT_S)
    late.clear()
    n_files_warm = len(files)

    # open-loop window, on this thread
    with tracer.span("window") as wsp:
        t_win = time.time()
        ticks(WARM_TICKS, window_ticks, t_win, wsp)
        t_win_end = time.time()
    hi = (WARM_TICKS + window_ticks) * OPS_PER_TICK
    window_txns = txns(WARM_TICKS * OPS_PER_TICK, hi)

    # fixed backlogs, each written at once when both stages are idle
    # (every earlier op seen), so a drain starts at no batch phase in
    # particular; drained when its last op is seen
    drained = sink.wait_for(window_txns, WAIT_LIMIT_S)
    drains = []
    for d in range(DRAINS):
        lo_b = hi + d * BACKLOG_OPS
        backlog_txns = txns(lo_b, lo_b + BACKLOG_OPS)
        with tracer.span("drain", index=d):
            t_b = time.time()
            write(WARM_TICKS + window_ticks + d, ops[lo_b:lo_b + BACKLOG_OPS],
                  t_b)
            drained = sink.wait_for(backlog_txns, WAIT_LIMIT_S) and drained
        t_e = max((sink.seen[t][1] for t in backlog_txns if t in sink.seen),
                  default=time.time())
        drains.append((t_e - t_b, len(backlog_txns)))
    if not tracer.enabled:
        for name, q in (("stage1", q1), ("stage2", q2)):
            for p in q.recentProgress:
                log.add(name, p.json)

    lat = [sink.seen[t][1] - due[t] for t in window_txns if t in sink.seen]
    # validity: the backlog, sampled at every window tick, must not trend
    # up. The first third is the ramp from the idle warm-up (the first
    # window batch takes every file written while it runs), so the last
    # third is compared with the middle one.
    tick_times = [wt for wt, _ in
                  files[n_files_warm:n_files_warm + window_ticks]]
    backlog = backlog_series(files, log.batches("stage1"),
                             source_batches(checkpoint), tick_times)
    growing = backlog_growing(backlog)
    check = _check(ops, sink)
    stage_batches = {s: log.batches(s) for s in ("stage1", "stage2")}
    return {
        "warm_ok": warm_ok,
        "drained": drained,
        "latency_s": lat,
        "drains": drains,
        "generator_late_max_s": max(late) if late else 0.0,
        "backlog_files": backlog,
        "backlog_growing": growing,
        "window": (t_win, t_win_end),
        "stage_batches": stage_batches,
        "attempted": len(due),
        "check": check,
    }


def _check(ops, sink: Sink) -> dict:
    """Every non-price op has exactly one TxnResult, and each equals the
    sequential replay's result (status and post-update state); so does
    each trader's final state."""
    expect, final = gen.replay(ops)
    missing = [t for t in expect if t not in sink.seen]
    wrong = [t for t, (row, _) in sink.seen.items()
             if t not in expect or tuple(row[1:]) != expect[t]]
    # a TxnResult carries the trader's state after its update (the prior
    # state when rejected), so the state after each trader's last op is
    # its final state
    last: dict[str, tuple] = {}
    for op in ops:
        if op.txn_id in sink.seen:
            row = sink.seen[op.txn_id][0]
            last[row[1]] = tuple(row[4:])
    final_ok = last == final
    return {"expected": len(expect), "missing": len(missing),
            "wrong": len(wrong), "duplicates": sink.dupes,
            "final_state_ok": final_ok,
            "failed": len(missing) + len(wrong) + sink.dupes}


def layer_metrics(res: dict) -> dict:
    """Stage-level record of an ``exchange_live`` run, from the queries'
    progress (traced or not)."""
    out = {}
    w0, w1 = res["window"]
    for stage, batches in res["stage_batches"].items():
        if not batches:
            continue
        d = [p["durationMs"] for p in batches]
        trig = [x.get("triggerExecution", 0) for x in d]
        in_window = [p for p in batches if w0 <= end_s(p) <= w1]
        busy = sum(p["durationMs"].get("triggerExecution", 0)
                   for p in in_window) / 1000.0
        ops = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
        pre = f"streaming.runtime.{stage}"
        out.update({
            f"streaming.sources.{stage}.get_batch_ms": (median(
                [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
                "ms"),
            f"streaming.sources.{stage}.rows_per_batch": (median(
                [p["numInputRows"] for p in batches]), "count"),
            f"streaming.stateful.{stage}.add_batch_ms": (median(
                [x.get("addBatch", 0) for x in d]), "ms"),
            f"{pre}.batch_ms": (median(trig), "ms"),
            f"{pre}.plan_ms": (median([x.get("queryPlanning", 0) for x in d]),
                               "ms"),
            f"{pre}.wal_ms": (median([x.get("walCommit", 0)
                                      + x.get("commitOffsets", 0) for x in d]),
                              "ms"),
            f"{pre}.batches": (len(batches), "count"),
            f"{pre}.busy_frac": (busy / (w1 - w0), "1"),
        })
        out[f"{pre}.batch_p90_ms"] = (percentile(trig, 0.9), "ms")
        if ops:
            out[f"streaming.stateful.{stage}.state_commit_ms"] = (median(
                [o.get("commitTimeMs", 0) for o in ops]), "ms")
            out[f"streaming.stateful.{stage}.state_rows"] = (
                ops[-1].get("numRowsTotal", 0), "count")
            out[f"streaming.stateful.{stage}.state_memory_mb"] = (
                ops[-1].get("memoryUsedBytes", 0) / 2**20, "MB")
    if res["append_ms"]:
        out["plans.market.topic_append_ms"] = (median(res["append_ms"]), "ms")
    out["streaming.sources.backlog_files_max"] = (
        max(res["backlog_files"], default=0), "count")
    out["streaming.sources.generator_late_max_s"] = (
        res["generator_late_max_s"], "s")
    return out
