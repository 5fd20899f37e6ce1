"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed (and of the sizes passed
in): the same seed yields byte-identical files, a different seed changes
them. The engine never sees the seed, only the files.

Two families:

* exchange ops for ``exchange_live``: a seq-ordered stream of share
  prices, market orders, investments and monkey feeds, plus the
  sequential ledger replay that is the oracle for the settled results;
* the ``events`` / ``documents`` / ``embeddings`` tables that the batch
  entries read, shaped like the repository's synthetic test tables
  (uniform event types, exponential values, a 30-word document
  vocabulary with planted near-duplicates, unit-norm embeddings).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# exchange ops

OPS_SCHEMA = pa.schema([
    ("kind", pa.string()),      # PRICE | ORDER | INVEST | FEED
    ("seq", pa.int64()),
    ("time_ms", pa.int64()),    # due time, epoch ms
    ("trader", pa.string()),
    ("txnId", pa.string()),
    ("type", pa.string()),      # BUY | SELL for orders
    ("shares", pa.int32()),
    ("price", pa.float64()),
    ("invested", pa.float64()),
    ("monkeys", pa.int32()),
])

# The same columns as a Spark DDL string, for the file-source reader.
OPS_DDL = ("kind string, seq long, time_ms long, trader string, "
           "txnId string, type string, shares int, price double, "
           "invested double, monkeys int")

TEAMS = ("ALOUATE", "BONOBO", "CAPUCIN", "DRILL", "SAGOUIN")
N_TRADERS = 40
# kind mix of every op after the opening price
KINDS = ("PRICE", "ORDER", "INVEST", "FEED")
KIND_P = (0.10, 0.60, 0.15, 0.15)


@dataclass(frozen=True)
class Op:
    kind: str
    seq: int
    trader: str | None
    txn_id: str | None
    otype: str | None
    shares: int | None
    price: float | None
    invested: float | None
    monkeys: int | None


def exchange_ops(seed: int, n: int) -> list[Op]:
    """``n`` ops in seq order. Seq 0 is a price, so no order ever waits
    for a first price. Prices are multiples of 1/16 and every other
    amount is an integer, so every ledger sum is exact in binary floating
    point and the replay can be compared for equality."""
    rng = np.random.default_rng([seed, 1])
    traders = [f"{TEAMS[i % len(TEAMS)]}/t{i:02d}" for i in range(N_TRADERS)]
    kinds = rng.choice(len(KINDS), size=n, p=KIND_P)
    kinds[0] = 0
    who = rng.integers(0, N_TRADERS, size=n)
    side = rng.integers(0, 2, size=n)
    amount = rng.integers(1, 6, size=n)
    steps = rng.integers(-2, 3, size=n)
    ops: list[Op] = []
    tick = 24  # price in 1/16 coin, kept within [8, 64]
    for seq in range(n):
        kind = KINDS[kinds[seq]]
        if kind == "PRICE":
            tick = min(64, max(8, tick + int(steps[seq])))
            ops.append(Op(kind, seq, None, None, None, None, tick / 16.0,
                          None, None))
            continue
        trader = traders[who[seq]]
        txn = f"x{seed}-{seq}"
        a = int(amount[seq])
        if kind == "ORDER":
            ops.append(Op(kind, seq, trader, txn,
                          "BUY" if side[seq] else "SELL", a, None, None,
                          None))
        elif kind == "INVEST":
            ops.append(Op(kind, seq, trader, txn, None, None, None,
                          float(a), None))
        else:
            ops.append(Op(kind, seq, trader, txn, None, None, None, None,
                          1 + a % 2))
    return ops


def ops_table(ops: list[Op], due_ms: list[int]) -> pa.Table:
    cols = {name: [] for name in OPS_SCHEMA.names}
    for op, t in zip(ops, due_ms):
        cols["kind"].append(op.kind)
        cols["seq"].append(op.seq)
        cols["time_ms"].append(t)
        cols["trader"].append(op.trader)
        cols["txnId"].append(op.txn_id)
        cols["type"].append(op.otype)
        cols["shares"].append(op.shares)
        cols["price"].append(op.price)
        cols["invested"].append(op.invested)
        cols["monkeys"].append(op.monkeys)
    return pa.table(cols, schema=OPS_SCHEMA)


def write_ops_file(ops: list[Op], due_ms: list[int], staging: str,
                   dest: str) -> None:
    """Write one parquet file and rename it into place, so a streaming
    file source never lists a half-written file."""
    pq.write_table(ops_table(ops, due_ms), staging)
    os.replace(staging, dest)


# The ledger semantics of the reference's TraderStateUpdater.update():
# apply the deltas, bail out a broke trader (+10 coins, +5 shares) when
# nothing is in flight, then reject the update if coins or shares went
# negative (a rejected update keeps the prior state).
INIT_STATE = (10.0, 5, 0, 0, 0)  # coins, shares, bailouts, fed, in flight


def _apply(state, utype, coins_diff, shares_diff, fed, invest):
    coins, shares, bailouts, fed0, inflight = state
    nc, ns, nb = coins + coins_diff, shares + shares_diff, bailouts
    nf, ni = fed0 + fed, inflight + invest
    if ni <= 0 and nc <= 3.0 and ns <= 0 and nc + 10.0 >= 0 and ns + 5 >= 0:
        nc, ns, nb = nc + 10.0, ns + 5, nb + 1
    if nc < 0:
        return state, "INSUFFICIENT_COINS"
    if ns < 0:
        return state, "INSUFFICIENT_SHARES"
    return (nc, ns, nb, nf, ni), "ACCEPTED"


def replay(ops: list[Op]) -> tuple[dict, dict]:
    """Sequential settlement of ``ops`` in seq order. Returns
    ({txnId: (trader, type, status, coins, shares, bailouts, fed,
    in_flight)}, {trader: final state})."""
    price = None
    states: dict[str, tuple] = {}
    results: dict[str, tuple] = {}
    for op in sorted(ops, key=lambda o: o.seq):
        if op.kind == "PRICE":
            price = op.price
            continue
        if op.kind == "ORDER":
            sign = 1 if op.otype == "BUY" else -1
            delta = ("MARKET", -sign * op.shares * price, sign * op.shares,
                     0, 0)
        elif op.kind == "INVEST":
            delta = ("INVEST", -op.invested, 0, 0, 1)
        else:
            delta = ("FEED", 0.0, -op.monkeys, op.monkeys, 0)
        state, status = _apply(states.get(op.trader, INIT_STATE), *delta)
        states[op.trader] = state
        results[op.txn_id] = (op.trader, delta[0], status) + state
    return results, states


# --------------------------------------------------------------------------
# batch tables

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EMB_DIM = 64


def events_table(seed: int, sf: float) -> pa.Table:
    n = int(round(1_000_000 * sf))
    users = max(1, int(round(15_000 * sf)))
    rng = np.random.default_rng([seed, 2])
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.choice(span, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, size=n)]),
    })


def documents_table(seed: int, sf: float) -> pa.Table:
    """Documents of 10-100 vocabulary words; 5 % of them copy an earlier
    document's text and append " dup" (the planted near-duplicates the
    dedup entries cluster)."""
    n = int(round(50_000 * sf))
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            words = rng.integers(0, len(VOCAB), size=n_words)
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), size=n,
                                                    p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, sf: float) -> pa.Table:
    n = int(round(20_000 * sf))
    rng = np.random.default_rng([seed, 4])
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
    })


TABLES = {"events": events_table, "documents": documents_table,
          "embeddings": embeddings_table}


def write_tables(seed: int, sf: float, out_dir: str,
                 names: tuple[str, ...]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(TABLES[name](seed, sf),
                       os.path.join(out_dir, f"{name}.parquet"))
