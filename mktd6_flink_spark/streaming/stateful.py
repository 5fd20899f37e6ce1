"""Stateful streaming operators (SURVEY.md §2.6) as
``applyInPandasWithState`` — per-event emission with O(1) keyed state,
the true streaming twins of the batch folds in ``operators/folds.py``.

Design: each operator is a pure-Python *step function*
``(state, row) -> (new_state, emitted_dict | None)`` shared verbatim
between
- the STREAMING path: ``groupBy(key).applyInPandasWithState`` (arbitrary
  stateful op; state is a tuple, one Arrow batch at a time, rows sorted by
  event time within each batch — cross-batch order is arrival order,
  exactly like the reference's Kafka-order processing), and
- the BATCH twin: ``groupBy(key).applyInPandas`` sorting the key's whole
  history then folding (used by the kata golden tests, which assert exact
  per-event sequences like Chapter04's EMA floats).

At 100 TB the streaming path keeps O(1) state per key in the state store
(RocksDB-backed on a real cluster); the batch twin materializes one key's
history per task — fine for bounded keys, and the reason the constant-key
operators run the streaming path in production.

References: ST1 Chapter04_WorkingWithState.java:86-113 (EMA, α=0.1,
golden floats at 146-154); ST2 SharePriceDataflow.java:72-96; ST6
MarketDataflow.java:284-310 + TraderStateUpdater.java:115-139; ST5
MarketDataflow.java:190-268; ST7 MarketDataflow.java:319-339; ST8
MarketDataflow.java:348-392; W3 SharePriceDataflow.java:121-122.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

EMA_ALPHA = 0.1

# Initial trader state (TraderState.java:76-83).
INIT_TRADER = (10.0, 5, 0, 0, 0)  # coins, shares, bailouts, fed, inFlight


# ---------------------------------------------------------------------------
# Step functions (pure Python, shared by batch twin and streaming path)
# ---------------------------------------------------------------------------

def ema_step(alpha: float = EMA_ALPHA, id_col: str | None = None):
    """ST1 — Chapter04:168-178: ema = first ? x : x*α + ema*(1-α).

    ``id_col`` passes an id column through to the emitted row (the
    per-event oracle entries align on it). Carries a VECTORIZED path:
    the recurrence itself is inherently sequential in float64 (any
    closed-form rewrite reassociates and breaks the kata golden
    floats), so "vectorized" here means the engine-level win — one
    tight loop over plain Python floats with columnar output instead
    of a dict built per input row and per emitted row (the r15 bench
    flagged streaming_st1_ema at 1.47× floor-normalized; the dict
    traffic was the cost, not the arithmetic)."""
    beta = 1.0 - alpha

    def step(state, row):
        x = float(row["value"])
        new = x if state is None else x * alpha + state[0] * beta
        out = {"ema": new}
        if id_col is not None:
            out = {id_col: int(row[id_col]), **out}
        return (new,), out

    def vectorized(pdf: "pd.DataFrame", state):
        e = None if state is None else float(state[0])
        out: list[float] = []
        append = out.append
        for x in pdf["value"].to_list():
            x = float(x)
            e = x if e is None else x * alpha + e * beta
            append(e)
        cols = {"ema": out}
        if id_col is not None:
            cols = {id_col: [int(i) for i in pdf[id_col].to_list()],
                    **cols}
        return cols, (state if e is None else (e,))

    step.vectorized = vectorized
    return step


def product_step(id_col: str | None = None):
    """ST2 — SharePriceDataflow.java:72-96: acc = (acc or 1) * mult.
    Same sequential-float contract and vectorized engine path as
    ema_step (left-to-right product, bit-exact)."""
    def step(state, row):
        acc = 1.0 if state is None else state[0]
        new = acc * float(row["mult"])
        out = {"price_mult": new}
        if id_col is not None:
            out = {id_col: int(row[id_col]), **out}
        return (new,), out

    def vectorized(pdf: "pd.DataFrame", state):
        acc = 1.0 if state is None else float(state[0])
        n = len(pdf)
        out: list[float] = []
        append = out.append
        for m in pdf["mult"].to_list():
            acc = acc * float(m)
            append(acc)
        cols = {"price_mult": out}
        if id_col is not None:
            cols = {id_col: [int(i) for i in pdf[id_col].to_list()],
                    **cols}
        return cols, (state if n == 0 else (acc,))

    step.vectorized = vectorized
    return step


def running_sum_step():
    """W3 — keyBy().sum(): emit the running total on every element.
    Carries the VECTORIZED engine path (round 17): the float
    accumulation stays a tight left-to-right scalar loop — bit-exact
    sequencing — and only the per-row dict traffic is replaced by
    columnar output (the proven ema_step pattern)."""
    def step(state, row):
        acc = 0.0 if state is None else state[0]
        new = acc + float(row["value"])
        return (new,), {"running_sum": new}

    def vectorized(pdf: "pd.DataFrame", state):
        acc = 0.0 if state is None else float(state[0])
        n = len(pdf)
        out: list[float] = []
        append = out.append
        for x in pdf["value"].to_list():
            acc = acc + float(x)
            append(acc)
        return {"running_sum": out}, (state if n == 0 else (acc,))

    step.vectorized = vectorized
    return step


def running_cents_step(cents_col: str = "_c",
                       id_col: str = "event_id"):
    """W3 with the exact integer-cents accumulator, plus a VECTORIZED
    batch path: integer addition is associative, so a numpy int64
    cumsum is bit-identical to the sequential fold no matter how the
    scan is implemented — the one family of per-event recurrences that
    can leave the Python loop without any float-order caveat. (Float
    recurrences — EMA, products — stay scalar: vectorized rewrites
    would reassociate and break the golden-float parity.)

    Emits {id_col, running_sum = cents/100.0} per event; state is the
    running cents total."""
    def step(state, row):
        acc = (0 if state is None else int(state[0])) + int(row[cents_col])
        return (acc,), {id_col: int(row[id_col]),
                        "running_sum": acc / 100.0}

    def vectorized(pdf: "pd.DataFrame", state):
        import numpy as np

        c = pdf[cents_col].to_numpy(dtype="int64")
        base = 0 if state is None else int(state[0])
        cum = base + np.cumsum(c)
        out = {
            id_col: pdf[id_col].to_list(),
            "running_sum": (cum / 100.0).tolist(),
        }
        new_state = (int(cum[-1]),) if len(cum) else state
        return out, new_state

    step.vectorized = vectorized
    return step


def kmv_sketch_step(k: int = 64):
    """Bounded-state streaming KMV sketch (per key): state is the
    bottom-k of every DISTINCT hash seen so far — at most k int64s, the
    constant-size state that makes a streaming cardinality sketch
    viable where exact distinct would hold the whole id universe. The
    incremental merge is LOSSLESS by the KMV union theorem (any hash
    among the bottom-k of old ∪ batch is among the bottom-k of its own
    side), so the final state equals the batch-built sketch no matter
    how the stream was micro-batched. One row per (key, micro-batch)
    emits the current sketch array plus a monotone seq so the batch
    finalize can keep each key's LAST emission (the applyInPandas
    append-mode analogue of update-mode latest)."""
    def step(state, row):  # pragma: no cover - vectorized path used
        raise NotImplementedError

    def vectorized(pdf: "pd.DataFrame", state):
        cur, seq = (list(state[0]), int(state[1])) if state else ([], 0)
        merged = sorted(set(cur).union(
            int(h) for h in pdf["_h"].tolist()))[:k]
        seq += 1
        return ({"seq": [seq], "hashes": [merged]}, (merged, seq))

    step.vectorized = vectorized
    return step


def priority_sample_step(k: int = 50):
    """Bounded-state streaming PRIORITY SAMPLE (Duffield-Lund-Thorup,
    JACM 2007) per key: state is the k smallest (priority, id, weight)
    triples seen so far — the weighted-without-replacement sample whose
    priorities are a pure function of (id, weight), so the bottom-k
    merge is LOSSLESS by the same union argument as KMV: any triple in
    the bottom-k of old ∪ batch is in the bottom-k of its own side.
    The final state therefore equals the batch-built sample under ANY
    micro-batching — sample-on-ingest loses nothing vs the corpus
    scan. Ties break on id (ids are distinct by contract, making the
    order total); the merge additionally dedups BY ID keeping the
    smallest triple, so a replayed id with a drifted weight cannot
    occupy two slots (without-replacement stays true under replays).
    Emits the current sample arrays + a monotone seq per micro-batch;
    finalize keeps the key's last emission."""
    def step(state, row):  # pragma: no cover - vectorized path used
        raise NotImplementedError

    def vectorized(pdf: "pd.DataFrame", state):
        cur, seq = ((list(zip(state[0], state[1], state[2])),
                     int(state[3])) if state else ([], 0))
        batch = list(zip((int(p) for p in pdf["_prio"].tolist()),
                         (int(i) for i in pdf["_id"].tolist()),
                         (int(w) for w in pdf["_w"].tolist())))
        # dedup by id keeping the smallest triple: a re-delivered id
        # with a drifted weight (replay, cross-shard duplication) must
        # occupy ONE slot or the sample is silently with-replacement
        best: dict = {}
        for t in sorted(set(cur).union(batch)):
            best.setdefault(t[1], t)
        merged = sorted(best.values())[:k]
        seq += 1
        prios = [t[0] for t in merged]
        ids = [t[1] for t in merged]
        ws = [t[2] for t in merged]
        return ({"seq": [seq], "prios": [prios], "ids": [ids],
                 "ws": [ws]}, (prios, ids, ws, seq))

    step.vectorized = vectorized
    return step


def holt_linear_step():
    """Holt's linear-trend double-exponential smoothing (Holt 1957 /
    Hyndman & Athanasopoulos, FPP §8.2) per key, alpha = beta = 1/2 in
    EXACT integer arithmetic: level l_t = trunc((x_t + l_{t-1} +
    b_{t-1}) / 2), trend b_t = trunc((l_t - l_{t-1} + b_{t-1}) / 2) —
    TRUNCATION toward zero, because that is what DuckDB's integer //
    does on negatives (-7 // 2 = -3, verified) while python // floors
    (-4): the python step truncates explicitly so both engines halve
    a negative trend identically. First observation seeds
    (l, b) = (x, 0). Emits one row per observation with the level,
    trend, and 1-step-ahead forecast l + b; constant 2-int state per
    key, so the fold is cardinality-independent on the batch engine
    and bounded-state on the live runtime."""
    def step(state, row):  # pragma: no cover - vectorized path used
        raise NotImplementedError

    def vectorized(pdf: "pd.DataFrame", state):
        l, b, started = (int(state[0]), int(state[1]),
                         int(state[2])) if state else (0, 0, 0)

        def t2(v):  # truncate-toward-zero halving (DuckDB // parity)
            return v // 2 if v >= 0 else -((-v) // 2)

        out_d, out_l, out_b, out_f = [], [], [], []
        for d, x in zip(pdf["day_idx"].tolist(), pdf["x"].tolist()):
            x = int(x)
            if not started:
                l, b, started = x, 0, 1
            else:
                l2 = t2(x + l + b)
                b = t2(l2 - l + b)
                l = l2
            out_d.append(int(d))
            out_l.append(l)
            out_b.append(b)
            out_f.append(l + b)
        return ({"day_idx": out_d, "level_cents": out_l,
                 "trend_cents": out_b, "forecast_cents": out_f},
                (l, b, started))

    step.vectorized = vectorized
    return step


def lpa_vote_step():
    """Streaming label-propagation VOTE COUNTER (per node key): state
    is the node's label→count map — bounded by the node's neighborhood
    label domain (degree + the self-vote), graph entities, never event
    volume — and each micro-batch emits the node's CURRENT argmax
    (max count, ties to the SMALLEST label — the deterministic tie
    order the batch twin and the DuckDB oracle use) plus a monotone
    seq. Counts are additive, so the final state equals the batch vote
    count under ANY micro-batching; the stage finalize keeps each
    node's last emission (the update-mode-latest pattern)."""
    def step(state, row):  # pragma: no cover - vectorized path used
        raise NotImplementedError

    def vectorized(pdf: "pd.DataFrame", state):
        d = dict(zip(state[0], (int(c) for c in state[1]))) if state \
            else {}
        seq = int(state[2]) if state else 0
        for lb in pdf["lbl"].to_list():
            d[lb] = d.get(lb, 0) + 1
        seq += 1
        best = min(d.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ks = sorted(d)
        return ({"lbl": [best], "seq": [seq]},
                (ks, [d[k] for k in ks], seq))

    step.vectorized = vectorized
    return step


def basket_pair_step():
    """Incremental market-basket pair generation (per basket key):
    state is the basket's DISTINCT item set — bounded by basket size,
    the same per-basket bound the batch miner relies on — and each
    micro-batch emits exactly the (a < b) pairs its NEW items create:
    new x already-seen plus new x new. The union of emissions over
    ANY micro-batching equals the batch pair set (each pair is
    emitted exactly once, by the batch in which its second item
    arrives), so downstream support counts match the batch plan
    bit-for-bit. This is the streaming half of association-rule
    mining: pairs stream out as baskets grow, counts aggregate
    downstream, no basket ever waits for 'completion'."""
    def step(state, row):  # pragma: no cover - vectorized path used
        raise NotImplementedError

    def vectorized(pdf: "pd.DataFrame", state):
        cur = set(state[0]) if state else set()
        new = sorted({int(x) for x in pdf["pk"].tolist()} - cur)
        snap = sorted(cur)
        rows_a: list[int] = []
        rows_b: list[int] = []
        for i, x in enumerate(new):
            for y in snap:
                a, b = (x, y) if x < y else (y, x)
                rows_a.append(a)
                rows_b.append(b)
            for y in new[i + 1:]:
                rows_a.append(x)
                rows_b.append(y)
        cur |= set(new)
        return ({"part_a": rows_a, "part_b": rows_b}, (sorted(cur),))

    step.vectorized = vectorized
    return step


def _ledger_update(state, utype, coins_diff, shares_diff, add_bailout,
                   fed_monkeys, invest_diff):
    """The TraderStateUpdater.update() transition (java:115-139),
    shared scalar core of the per-row and vectorized ledger paths:
    deltas → auto-bailout on the new state → validate → rejected
    updates keep prior state. Returns (new_state, status)."""
    coins, shares, bailouts, fed, inflight = state
    nc = coins + coins_diff
    ns = shares + shares_diff
    nb = bailouts + (1 if add_bailout else 0)
    nf = fed + fed_monkeys
    ni = inflight + invest_diff
    if utype != "BAILOUT" and ni <= 0 and nc <= 3.0 and ns <= 0:
        # recursive BAILOUT_UPDATER.update(newState): +10 coins,
        # +5 shares, bailouts+1, itself validated
        if nc + 10.0 >= 0 and ns + 5 >= 0:
            nc, ns, nb = nc + 10.0, ns + 5, nb + 1
    if nc < 0:
        status = "INSUFFICIENT_COINS"
    elif ns < 0:
        status = "INSUFFICIENT_SHARES"
    else:
        status = "ACCEPTED"
    if status == "ACCEPTED":
        return (nc, ns, nb, nf, ni), status
    return state, status


def trader_ledger_step():
    """ST6 — TraderStateUpdater.update() (java:115-139) emitting a
    TxnResult per update (transition shared with the vectorized path
    via _ledger_update; the engine-level columnar loop is the same
    exact-arithmetic fold without the per-row dict traffic)."""
    def step(state, row):
        new, status = _ledger_update(
            INIT_TRADER if state is None else state,
            str(row["type"]), float(row["coinsDiff"]),
            int(row["sharesDiff"]), bool(row["addBailout"]),
            int(row["fedMonkeys"]), int(row["investDiff"]))
        return new, {
            "txnId": str(row["txnId"]),
            "type": str(row["type"]),
            "status": status,
            "coins": new[0],
            "shares": new[1],
            "bailouts": new[2],
            "fedMonkeys": new[3],
            "inFlightInvestments": new[4],
        }

    def vectorized(pdf: "pd.DataFrame", state):
        st = INIT_TRADER if state is None else tuple(state)
        n = len(pdf)
        o_status: list[str] = []
        o_coins: list[float] = []
        o_shares: list[int] = []
        o_bail: list[int] = []
        o_fed: list[int] = []
        o_infl: list[int] = []
        for utype, cd, sd, ab, fm, iv in zip(
                pdf["type"].to_list(), pdf["coinsDiff"].to_list(),
                pdf["sharesDiff"].to_list(), pdf["addBailout"].to_list(),
                pdf["fedMonkeys"].to_list(), pdf["investDiff"].to_list()):
            st, status = _ledger_update(
                st, str(utype), float(cd), int(sd), bool(ab),
                int(fm), int(iv))
            o_status.append(status)
            o_coins.append(st[0])
            o_shares.append(st[1])
            o_bail.append(st[2])
            o_fed.append(st[3])
            o_infl.append(st[4])
        cols = {
            "txnId": [str(t) for t in pdf["txnId"].to_list()],
            "type": [str(t) for t in pdf["type"].to_list()],
            "status": o_status,
            "coins": o_coins,
            "shares": o_shares,
            "bailouts": o_bail,
            "fedMonkeys": o_fed,
            "inFlightInvestments": o_infl,
        }
        return cols, (state if n == 0 else st)

    step.vectorized = vectorized
    return step


def order_buffer_step():
    """ST5 — MarketDataflow.java:190-268: orders buffer until the first
    price arrives (then flush in event-time order), afterwards settle
    immediately at the latest price. Rows are the tagged union
    (routing.tagged_union) of orders (_side=L: txnId, shares) and prices
    (_side=R: price). State: (latest_price | None, buffered [(time_ms,
    txnId, shares), ...]).

    NO vectorized path, deliberately (round 17): the control flow is
    a BUFFER DRAIN, not an elementwise map — a price event flushes a
    variable-length batch of buffered orders in event-time order, so
    output rows are not 1:1 with input rows and the loop body is
    dominated by the sort/flush, not dict traffic. Not a bench-head
    bottleneck (streaming_st5 rides the machinery floor)."""
    def step(state, row):
        price, buffered = (None, ()) if state is None else state
        if str(row["_side"]) == "R":
            price = float(row["price"])
            out = None
            if buffered:
                flushed = sorted(buffered)
                out = [
                    {"txnId": t, "shares": s, "settle_price": price}
                    for (_, t, s) in flushed
                ]
                buffered = ()
            return (price, buffered), out
        if price is None:
            buffered = buffered + (
                (int(row["time_ms"]), str(row["txnId"]), int(row["shares"])),)
            return (price, buffered), None
        return (price, buffered), {
            "txnId": str(row["txnId"]),
            "shares": int(row["shares"]),
            "settle_price": price,
        }
    return step


def ema_combiner_step(alpha: float = EMA_ALPHA,
                      id_col: str | None = None):
    """ST4 — SharePriceDataflow.java:227-266: side L (hype) updates
    hypePrice state only; side R (base price) emits newValue = base+hype,
    forecast = ema/newValue with ema over newValue. State: (hype, ema,
    seen). ``id_col`` optionally passes an id column through to the
    emitted row (per-event oracle checks need it). Carries the
    VECTORIZED engine path (round 17): the EMA recurrence stays a
    scalar left-to-right loop — identical float sequencing — with
    columnar output replacing the per-row dicts (the ema_step
    pattern; side-L rows emit nothing, so outputs are the R-row
    subsequence)."""
    beta = 1.0 - alpha

    def step(state, row):
        hype, ema, seen = (0.0, 0.0, False) if state is None else state
        if str(row["_side"]) == "L":
            return (float(row["v"]), ema, seen), None
        newv = float(row["v"]) + hype
        ema = newv if not seen else newv * alpha + ema * beta
        out = {
            "new_value": newv,
            "forecast_mult": ema / newv if newv else float("nan"),
        }
        if id_col is not None:
            out = {id_col: int(row[id_col]), **out}
        return (hype, ema, True), out

    def vectorized(pdf: "pd.DataFrame", state):
        hype, ema, seen = ((0.0, 0.0, False) if state is None
                           else state)
        nv_out: list[float] = []
        fc_out: list[float] = []
        id_out: list[int] = []
        ids = (pdf[id_col].to_list() if id_col is not None
               else None)
        for i, (side, v) in enumerate(zip(pdf["_side"].to_list(),
                                          pdf["v"].to_list())):
            if str(side) == "L":
                hype = float(v)
                continue
            newv = float(v) + hype
            ema = newv if not seen else newv * alpha + ema * beta
            seen = True
            nv_out.append(newv)
            fc_out.append(ema / newv if newv else float("nan"))
            if ids is not None:
                id_out.append(int(ids[i]))
        cols = {"new_value": nv_out, "forecast_mult": fc_out}
        if id_col is not None:
            cols = {id_col: id_out, **cols}
        return cols, ((hype, ema, seen)
                      if len(pdf) else state)

    step.vectorized = vectorized
    return step


def latest_side_value_step(id_col: str | None = None):
    """ST10 — MonkeyStockTrader.java:208-236: side R stores the latest
    price; side L emits value - storedPrice (dropped before any price).
    ``id_col`` optionally passes an id column through to the emitted
    row. Carries the VECTORIZED engine path (round 17): one scalar
    loop carrying the latest price, columnar output for the L-row
    emissions (the ema_step pattern — arithmetic order unchanged)."""
    def step(state, row):
        price = None if state is None else state[0]
        if str(row["_side"]) == "R":
            return (float(row["v"]),), None
        if price is None:
            return (None,), None
        out = {"coins_delta": float(row["v"]) - price}
        if id_col is not None:
            out = {id_col: int(row[id_col]), **out}
        return (price,), out

    def vectorized(pdf: "pd.DataFrame", state):
        price = None if state is None else state[0]
        deltas: list[float] = []
        id_out: list[int] = []
        ids = (pdf[id_col].to_list() if id_col is not None
               else None)
        for i, (side, v) in enumerate(zip(pdf["_side"].to_list(),
                                          pdf["v"].to_list())):
            if str(side) == "R":
                price = float(v)
            elif price is not None:
                deltas.append(float(v) - price)
                if ids is not None:
                    id_out.append(int(ids[i]))
        cols = {"coins_delta": deltas}
        if id_col is not None:
            cols = {id_col: id_out, **cols}
        return cols, (state if len(pdf) == 0 else (price,))

    step.vectorized = vectorized
    return step


def cep_step(window_us: int, id_col: str = "user_id"):
    """CEP sequence matcher — Flink's ``Pattern.begin('signup')
    .followedBy('click').followedBy('purchase').within(W)`` with
    ``AfterMatchSkipStrategy.skipPastLastEvent()``, as a keyed
    per-event fold with CONSTANT state (event types encoded
    1 -> 2 -> 3 in ``ty``).

    A naive single-anchor automaton (lock onto the first signup,
    expire, retry) MISSES matches Flink's NFA emits: a fresher signup
    arriving while a partial match is active can anchor a within-window
    match after the stale anchor expires. Faithful semantics need only
    two timestamps per key, because both are monotone: ``s_last`` (the
    latest signup seen) and ``c_s`` (the best — i.e. latest — signup
    anchor among clicks seen so far; stamped from ``s_last`` when a
    click arrives). A purchase at t completes the EARLIEST-ENDING
    match iff ``t - c_s <= window_us``; skip-past-last-event then
    discards both partial anchors. Non-matching events never clear
    state (followedBy is relaxed contiguity). Emits one row per
    completed match: (match_n, start_us, end_us) where start is the
    matched signup's ts.

    NO vectorized path, deliberately (round 17): this is an NFA
    transition per event — three data-dependent branches mutating two
    monotone timestamps — and emissions are SPARSE (completed matches
    only), so the vectorized protocol's one real win, per-row dict
    traffic on dense output, does not exist here."""
    def step(state, row):
        s_last, c_s, n = (-1, -1, 0) if state is None else state
        t = int(row["t_us"])
        ty = int(row["ty"])
        out = None
        if ty == 1:
            s_last = t
        elif ty == 2:
            if s_last >= 0:
                c_s = s_last
        elif ty == 3:
            if c_s >= 0 and t - c_s <= window_us:
                n += 1
                out = {"match_n": n, "start_us": c_s, "end_us": t}
                s_last, c_s = -1, -1
        return (s_last, c_s, n), out
    return step


def cep_absence_step(window_us: int):
    """CEP ABSENCE detection — Flink's ``Pattern.begin('signup')
    .notFollowedBy('purchase').within(W)``: emit each tracked signup's
    outcome, 'converted' if any purchase lands within the window,
    'churned' when the window elapses without one. Timeout emission is
    the notoriously hard part of absence patterns (nothing "arrives"
    to trigger it); here the expiry check runs on every subsequent
    event, and callers append ONE end-of-corpus sentinel row per key
    (ty = 0 at the global max ts) so trailing pending signups resolve
    deterministically — a signup still inside its window at corpus end
    stays OPEN and emits nothing (both engines agree by construction).
    One pending signup per key (a signup while one is pending is
    ignored — skip-till-next on the anchor), so state is one
    timestamp. Emits (signup_us, outcome, resolve_us) per resolved
    anchor; resolve_us is the purchase ts or the churn deadline
    t0 + W.

    NO vectorized path, deliberately (round 17): same NFA shape as
    cep_step — per-event expiry check + data-dependent anchor
    mutation, sparse emissions (resolved anchors only) — so columnar
    output buys nothing."""
    def step(state, row):
        pend, = (-1,) if state is None else state
        t = int(row["t_us"])
        ty = int(row["ty"])
        out = None
        if pend >= 0 and t - pend > window_us:
            out = {"signup_us": pend, "outcome": "churned",
                   "resolve_us": pend + window_us}
            pend = -1
        if ty == 1:
            if pend < 0:
                pend = t
        elif ty == 3:
            if pend >= 0:
                # within the window: the expiry branch above ran first
                out = {"signup_us": pend, "outcome": "converted",
                       "resolve_us": t}
                pend = -1
        return (pend,), out
    return step


# ---------------------------------------------------------------------------
# Engines
# ---------------------------------------------------------------------------

def _fold_pdf(pdf: "pd.DataFrame", step, state, key_dict: dict) -> tuple:
    """Fold one (time-sorted) pandas frame; returns (rows, final_state).

    Iterates as plain Python lists (``Series.to_list`` + ``zip``) rather
    than ``iterrows`` — ~10× less per-row overhead and native Python
    scalars (no numpy boxing in the step's float()/int() casts) while
    keeping the exact sequential fold semantics the golden float tests
    pin down.
    """
    rows = []
    append = rows.append
    cols = list(pdf.columns)
    columns = [pdf[c].to_list() for c in cols]
    for vals in zip(*columns):
        state, out = step(state, dict(zip(cols, vals)))
        if out is None:
            continue
        outs = out if isinstance(out, list) else [out]
        for o in outs:
            append({**key_dict, **o})
    return rows, state


def apply_per_event_batch(df: DataFrame, key_cols: list[str],
                          order_cols: list[str], step_factory: Callable,
                          out_schema: StructType | str) -> DataFrame:
    """Batch twin: per-key history sort + per-event fold, as ONE
    Python call per Arrow chunk rather than one per key.

    The obvious spelling — ``groupBy(keys).applyInPandas`` — pays a
    fixed ~2 ms of Arrow/schema/function overhead PER GROUP, which is
    invisible on the trader-keyed folds (tens of keys) and dominated
    everything on the user-keyed CEP entry (1 500 keys cost ~3 s of a
    4 s run at sf0.1; at real user cardinality it is the whole job).
    Instead: repartition on the key (same shuffle the groupBy did),
    ``sortWithinPartitions(keys + order)`` so each key's history is
    CONTIGUOUS AND ORDERED (the sort happens JVM-side, replacing the
    per-group pandas mergesort), then ``mapInPandas`` folds straight
    through each chunk, detecting key boundaries with a vectorized
    neighbor-compare. Python overhead is per CHUNK (~10k rows), so
    throughput is independent of key cardinality — the property that
    matters at 100 TB.

    A key that spans a chunk boundary carries (step, state) into the
    next chunk — legal because the partition-wide sort already
    guarantees cross-chunk order (the same drain-then-fold contract
    apply_per_event_stream enforces by concatenating). Vectorized
    steps already take (chunk, state) and return carried state — the
    streaming contract — so they run per contiguous key-slice
    unchanged. Key columns are NOT NULL by every caller's contract
    (trader/user ids); order_cols must be tie-broken, as before."""
    fields = (out_schema.fieldNames() if isinstance(out_schema, StructType)
              else StructType.fromDDL(out_schema).fieldNames())
    rep = (df.repartition(*key_cols)
           .sortWithinPartitions(*key_cols, *order_cols))

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        cur_key = None
        step = None
        state = None
        for pdf in pdfs:
            n = len(pdf)
            if not n:
                continue
            keys = [pdf[c].to_numpy() for c in key_cols]
            starts = np.zeros(n, dtype=bool)
            starts[0] = True
            for a in keys:
                starts[1:] |= a[1:] != a[:-1]
            bounds = np.flatnonzero(starts).tolist() + [n]
            rows: list[dict] = []
            vec_out: dict[str, list] = {}
            for i, j in zip(bounds, bounds[1:]):
                key = tuple(a[i] for a in keys)
                if key != cur_key:
                    cur_key = key
                    step = step_factory()
                    state = None
                sl = pdf.iloc[i:j]
                key_dict = dict(zip(key_cols, key))
                vec = getattr(step, "vectorized", None)
                if vec is not None:
                    out_cols, state = vec(sl, state)
                    m = len(next(iter(out_cols.values()))) if out_cols else 0
                    if m:
                        for c, vals in out_cols.items():
                            vec_out.setdefault(c, []).extend(vals)
                        for kc, kv in key_dict.items():
                            vec_out.setdefault(kc, []).extend([kv] * m)
                else:
                    out_rows, state = _fold_pdf(sl, step, state, key_dict)
                    rows.extend(out_rows)
            if vec_out:
                yield pd.DataFrame(vec_out, columns=fields)
            if rows:
                yield pd.DataFrame(rows, columns=fields)

    return rep.mapInPandas(fn, out_schema)


def apply_per_event_stream(df: DataFrame, key_cols: list[str],
                           order_cols: list[str], step_factory: Callable,
                           out_schema: StructType | str,
                           state_schema: StructType | str,
                           pack, unpack,
                           timeout: str = "NoTimeout") -> DataFrame:
    """Streaming path: ``applyInPandasWithState``. ``pack``/``unpack``
    convert the operator's python state tuple to/from the typed state row
    (state must be serializable to ``state_schema``). Rows are sorted by
    ``order_cols`` within each micro-batch; ordering across batches is
    arrival order (Kafka order in the reference).

    The runtime hands each key's batch rows as an ITERATOR of Arrow
    chunks (~10k rows each). Sorting chunk-by-chunk silently violates
    the per-batch ordering contract the folds depend on — fine at
    sf0.01 where every key fits one chunk, wrong at sf0.1+ where a hot
    key spans several (found by the sf0.1 oracle sweep: st2/st4/st5
    drifted). The chunks are therefore drained and concatenated BEFORE
    the single sort; memory is one key-batch — exactly what any
    per-batch sort requires, and bounded on a real cluster by
    micro-batch admission (maxOffsetsPerTrigger / maxFilesPerTrigger),
    the knob that sizes batches to executors."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key: tuple, pdfs: Iterator["pd.DataFrame"],
           gstate: "GroupState") -> Iterator["pd.DataFrame"]:
        import pandas as pd

        state = unpack(gstate.get) if gstate.exists else None
        key_dict = dict(zip(key_cols, key))
        step = step_factory()
        vec = getattr(step, "vectorized", None)
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0])
            pdf = pdf.sort_values(order_cols, kind="mergesort")
            if vec is not None:
                out_cols, state = vec(pdf, state)
                if out_cols and len(next(iter(out_cols.values()))):
                    out = pd.DataFrame(out_cols)
                    for kc, kv in key_dict.items():
                        out[kc] = kv
                    yield out
            else:
                rows, state = _fold_pdf(pdf, step, state, key_dict)
                if rows:
                    yield pd.DataFrame(rows)
        if state is not None:
            gstate.update(pack(state))

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        getattr(GroupStateTimeout, timeout))


def delayed_return_stream(df: DataFrame, out_schema: str | StructType,
                          compute_return: Callable[[dict], float],
                          delay_ms_col: str = "delay_ms",
                          time_col: str | None = None,
                          watermark: str = "0 milliseconds") -> DataFrame:
    """ST8 — delayed investment return with a timer
    (MarketDataflow.java:348-392): keyed by txnId; on the investment
    event, stash (trader, return_amount) in state and register a
    timeout; when the timeout fires, emit the RETURN
    TraderStateUpdater (coinsDiff=return, investDiff=-1).

    ``compute_return`` injects the (seeded in tests, entropic in prod)
    log-normal return calculation — the reference samples
    LogNormal(0.035 + e^(−1−total/1000), 0.01) * investedCoins.

    Without ``time_col`` the timer is the reference's processing-time
    timer (MarketDataflow.java:374): it fires ``delay_ms`` of wall
    clock later, on a later micro-batch. With ``time_col`` it is an
    event-time timer: the timeout is ``row[time_col] + delay_ms`` and
    fires when the WATERMARK passes it — deterministic under replay (a
    reprocessed stream fires the same timers at the same stream
    positions, which wall-clock timers cannot promise), the right
    choice when the delay models stream time rather than real time.
    Late data beyond ``watermark`` is then dropped by the engine before
    reaching the state function.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if time_col is not None:
        df = df.withWatermark(time_col, watermark)

    def fn(key: tuple, pdfs: Iterator["pd.DataFrame"],
           state: "GroupState") -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.hasTimedOut:
            trader, amount = state.get
            state.remove()
            yield pd.DataFrame([{
                "txnId": key[0],
                "trader": trader,
                "type": "RETURN",
                "coinsDiff": amount,
                "investDiff": -1,
            }])
            return
        for pdf in pdfs:
            for row in pdf.to_dict("records"):
                amount = compute_return(row)
                state.update((str(row["trader"]), float(amount)))
                if time_col is None:
                    # Spark requires a strictly positive duration; the
                    # reference's registerProcessingTimeTimer allows 0
                    # — clamp to the 1 ms minimum granularity.
                    state.setTimeoutDuration(
                        max(int(row[delay_ms_col]), 1))
                else:
                    state.setTimeoutTimestamp(
                        int(round(row[time_col].timestamp() * 1000.0))
                        + int(row[delay_ms_col]))
        yield pd.DataFrame(
            columns=["txnId", "trader", "type", "coinsDiff", "investDiff"])

    return df.groupBy("txnId").applyInPandasWithState(
        fn, out_schema,
        "trader string, amount double",
        "append", GroupStateTimeout.ProcessingTimeTimeout
        if time_col is None else GroupStateTimeout.EventTimeTimeout)


# Convenience pack/unpack for single-double states (EMA, product, sums).
def pack1(state: tuple) -> tuple:
    return (float(state[0]),)


def unpack1(row: tuple) -> tuple:
    return (row[0],)


BURST_MULTS = {1: 0.95, 2: 0.9, 3: 0.8, 4: 0.7, 5: 0.7,
               6: 0.8, 7: 0.9, 8: 0.95, 9: 1.2, 10: 1.1}


def bubble_burst_step():
    """ST3 — hype bubble-burst state machine
    (SharePriceDataflow.java:169-225, BurstStep.java:9-29), exact
    semantics including the quirk that priceState is finally overwritten
    with ``diff`` (java:221) so the persistent "bursts" value is simply
    the previous diff.

    Rows carry a precomputed ``rand`` column in [0,1) — the burst-entry
    randomness (java:216 ``random.nextDouble() < diff * 0.01``) is
    injected as data so tests and the DuckDB oracle can pin it
    deterministically (portable md5-based uniforms) while production
    feeds real entropy. State: (prev_diff, step_idx 0=not-bursting).

    Carries the VECTORIZED engine path (round 17): the state machine
    is data-dependent per event (the randomness branch reads the
    running diff), so the transition stays a scalar left-to-right
    loop with identical float sequencing — only the per-row dict
    traffic is replaced by columnar output (the ema_step pattern;
    this step emits on EVERY row, so the dense-output win applies).
    """
    def step(state, row):
        prev_diff, step_idx = (0.0, 0) if state is None else state
        value = float(row["value"])
        diff = value - prev_diff
        if step_idx > 0:
            diff = diff * BURST_MULTS[step_idx]
            step_idx = step_idx + 1 if step_idx < 10 else 0
        elif float(row["rand"]) < diff * 0.01:
            step_idx = 1
        return (diff, step_idx), {"diff": diff, "burst_step": step_idx}

    def vectorized(pdf: "pd.DataFrame", state):
        prev_diff, step_idx = (0.0, 0) if state is None else state
        n = len(pdf)
        d_out: list[float] = []
        s_out: list[int] = []
        for value, rand in zip(pdf["value"].to_list(),
                               pdf["rand"].to_list()):
            diff = float(value) - prev_diff
            if step_idx > 0:
                diff = diff * BURST_MULTS[step_idx]
                step_idx = step_idx + 1 if step_idx < 10 else 0
            elif float(rand) < diff * 0.01:
                step_idx = 1
            prev_diff = diff
            d_out.append(diff)
            s_out.append(step_idx)
        return ({"diff": d_out, "burst_step": s_out},
                (state if n == 0 else (prev_diff, step_idx)))

    step.vectorized = vectorized
    return step


def sequence_counter_step(id_col: str | None = None):
    """ST9 — per-key monotone txn-id counter
    (MonkeyStockTrader.java:167-206): state = int, emit seq per event.
    ``id_col`` optionally passes an id column through to the emitted
    row, and enables a VECTORIZED batch path: the counter is an integer
    recurrence (seq_i = base + i), so a numpy arange is bit-identical to
    the sequential fold — same family as ``running_cents_step``."""
    def step(state, row):
        n = (0 if state is None else int(state[0])) + 1
        out = {"seq": n}
        if id_col is not None:
            out = {id_col: int(row[id_col]), **out}
        return (n,), out

    if id_col is not None:
        def vectorized(pdf: "pd.DataFrame", state):
            base = 0 if state is None else int(state[0])
            n = len(pdf)
            out = {
                id_col: pdf[id_col].to_list(),
                "seq": list(range(base + 1, base + n + 1)),
            }
            new_state = (base + n,) if n else state
            return out, new_state

        step.vectorized = vectorized
    return step
