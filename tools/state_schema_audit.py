"""State-schema range audit for every ``applyInPandasWithState`` user.

The pickled-value state path is LENIENT: a state field declared ``int``
(32-bit) happily holds a micros timestamp today, because the tuple is
pickled rather than cast through the declared schema — exactly how the
round-11 CEP automaton shipped ``s_last int`` over int64 values. Any
schema-enforcing path (transformWithState migration, Arrow state
encoding) would then corrupt or crash silently. This audit makes the
contract structural: it patches ``stateful.apply_per_event_stream`` so
every ``pack``-ed state tuple is validated against the DECLARED state
schema — field count, python type, and integer RANGE — while the
registry's streaming entries run end to end at a small SF.

Round 14 adds the UNBOUNDED-KEYED-STATE audit (``--growth``): every
streaming entry runs at sf0.001 AND sf0.01 under a
StreamingQueryListener tap that records each micro-batch's
``stateOperators[].numRowsTotal`` and whether an event-time watermark
is defined. An entry whose final state rows GROW with the input
(>= GROWTH_FACTOR between the two SFs) while holding no watermark is
flagged — the state-store analog of the bogus-estimate class (the r12
``streaming_bpe_fertility`` kept one row per doc forever; this catches
that shape structurally). Entries whose state is INHERENTLY
keyed-per-entity (the reference's own Flink ValueState-per-trader
model) or inherently full-history are allowlisted in
``GROWTH_ALLOWLIST`` with per-entry justification and, where one
exists, the watermark-evicting twin cross-referenced.

Usage:
    python tools/state_schema_audit.py                # all streaming_*
    python tools/state_schema_audit.py streaming_cep_pattern ...
    python tools/state_schema_audit.py --growth       # unbounded-state audit

Exit code 1 on any violation. The two timer entries share
``delayed_return_stream`` (processing-time timer, or event-time when
given a ``time_col``), which declares ``trader string, amount double``
and updates with a literal ``(str(...), float(...))`` tuple —
statically range-safe; it is covered by the same wrapper only if
routed through ``apply_per_event_stream``, and noted as static-pass
otherwise.
"""

from __future__ import annotations

import numbers
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_INT_BOUNDS = {
    "byte": (-(1 << 7), (1 << 7) - 1),
    "tinyint": (-(1 << 7), (1 << 7) - 1),
    "short": (-(1 << 15), (1 << 15) - 1),
    "smallint": (-(1 << 15), (1 << 15) - 1),
    "int": (-(1 << 31), (1 << 31) - 1),
    "integer": (-(1 << 31), (1 << 31) - 1),
    "long": (-(1 << 63), (1 << 63) - 1),
    "bigint": (-(1 << 63), (1 << 63) - 1),
}


def _field_specs(spark, state_schema):
    """Driver-side: reduce the schema to plain-python (name, kind,
    nullable, element_kind) tuples so the validating pack closure ships
    to executor workers without any JVM reference."""
    from pyspark.sql.types import (ArrayType, StructType,
                                   _parse_datatype_string)

    st = (state_schema if isinstance(state_schema, StructType)
          else _parse_datatype_string(state_schema))
    specs = []
    for f in st.fields:
        if isinstance(f.dataType, ArrayType):
            specs.append((f.name, "array", f.nullable,
                          f.dataType.elementType.simpleString()))
        else:
            specs.append((f.name, f.dataType.simpleString(),
                          f.nullable, None))
    return specs


def _check_scalar(name: str, kind: str, v) -> str | None:
    """None = ok, else the violation message."""
    if kind in _INT_BOUNDS:
        if isinstance(v, bool) or not isinstance(v, numbers.Integral):
            return (f"field {name!r} declared {kind} holds "
                    f"{type(v).__name__} {v!r}")
        lo, hi = _INT_BOUNDS[kind]
        if not (lo <= int(v) <= hi):
            return (f"field {name!r} declared {kind} holds out-of-range "
                    f"value {int(v)} (bounds [{lo}, {hi}])")
    elif kind in ("double", "float"):
        if isinstance(v, bool) or not isinstance(v, numbers.Real):
            return (f"field {name!r} declared {kind} holds "
                    f"{type(v).__name__} {v!r}")
    elif kind == "string":
        if not isinstance(v, str):
            return (f"field {name!r} declared string holds "
                    f"{type(v).__name__} {v!r}")
    elif kind == "boolean":
        if not isinstance(v, bool):
            return (f"field {name!r} declared boolean holds "
                    f"{type(v).__name__} {v!r}")
    return None


def validate_state_tuple(specs, state: tuple) -> list[str]:
    """Validate one packed state tuple against the reduced specs;
    returns violation messages (empty = clean)."""
    errs = []
    if len(state) != len(specs):
        return [f"state arity {len(state)} != declared {len(specs)}"]
    for (name, kind, nullable, elem_kind), v in zip(specs, state):
        if v is None:
            if not nullable:
                errs.append(f"field {name!r} non-nullable but holds None")
            continue
        if kind == "array":
            if not isinstance(v, (list, tuple)):
                errs.append(f"field {name!r} declared array holds "
                            f"{type(v).__name__}")
                continue
            for i, e in enumerate(v):
                if e is None:
                    continue
                m = _check_scalar(f"{name}[{i}]", elem_kind, e)
                if m:
                    errs.append(m)
                    break  # one element message per field is enough
        else:
            m = _check_scalar(name, kind, v)
            if m:
                errs.append(m)
    return errs


def make_validating_pack(pack, specs, entry: str):
    def vpack(state):
        packed = pack(state)
        errs = validate_state_tuple(specs, tuple(packed))
        if errs:
            raise ValueError(
                f"STATE-SCHEMA VIOLATION in {entry}: " + "; ".join(errs))
        return packed
    return vpack


# --------------------------------------------------------------------------
# Unbounded keyed-state audit (round 14)
# --------------------------------------------------------------------------

# Final-state growth between sf0.001 and sf0.01 (inputs grow ~10x)
# above this factor = "state scales with input". 3x keeps bounded
# models (constant sketches, k-sized heaps) clearly under the bar
# while linear-in-corpus state (~10x) clears it with margin.
GROWTH_FACTOR = 3.0
# ignore entries whose absolute state stays tiny at the larger SF —
# a 5-key aggregate tripling from 1 to 3 rows is not a leak signal
MIN_ROWS_AT_LARGE_SF = 50

# Entries whose state legitimately scales with an input-derived key
# domain. Two classes, annotated per entry:
#   entity-keyed — the reference's own Flink keyed-ValueState model:
#     one row per trader/user, the semantics the port must reproduce;
#     state is O(#entities), not O(events), and an entity universe is
#     operationally bounded even when the synthetic generator scales
#     it with SF.
#   full-history — the operator IS a full-history structure by
#     definition; the watermark-evicting twin is cross-referenced.
# Only entries the growth heuristic ACTUALLY fires on are listed (a
# blanket allowlist would blind the audit to a future leak in an entry
# that is bounded today); each annotation states WHY the measured
# growth is not input-scaling state. Measured profiles (sf0.001 ->
# sf0.01 final state rows) are from the r14 audit run.
GROWTH_ALLOWLIST = {
    # --- full-history by definition (the prescribed example; docs
    #     table is 500 rows at every SF so it does not currently
    #     fire, but a corpus-scaled regeneration would) ---
    "streaming_dedup_exact": (
        "full-history: exact dedup state is one row per distinct key "
        "by definition; bounded twin: streaming_dedup_watermarked "
        "(event-time eviction)"),
    # --- entity-keyed, CONSTANT state per entity (the reference's
    #     own Flink keyed-ValueState model; 15 -> 150 tracks the
    #     synthetic generator scaling users with SF, not per-event
    #     growth) ---
    "streaming_cep_pattern": (
        "entity-keyed: constant-size NFA state (two monotone "
        "timestamps) per user — O(#users), not O(events)"),
    "streaming_cep_absence": (
        "entity-keyed: constant-size absence automaton per user"),
    "streaming_decayed_engagement": (
        "entity-keyed: one decayed accumulator per user"),
    # --- bounded register grids: the key domain is a FIXED grid that
    #     is sparse at tiny SF; cross-SF 'growth' is the grid filling
    #     in, capped at the grid size ---
    "streaming_sketch_hll": (
        "bounded grid: registers keyed (event_type, bucket) <= "
        "5 x 64 = 320 rows; 70 -> 295 is sparse fill-in"),
    "streaming_sketch_cms": (
        "bounded grid: CMS (depth, column) counter grid, constant "
        "size; 44 -> 398 is sparse fill-in"),
    "streaming_sliding_hll_uniques": (
        "time-keyed grid: per-day registers, 64 per day regardless "
        "of input volume (<= 30 x 64 = 1920 on the generator's fixed "
        "30-day span; 375 -> 1724 is fill-in). Grows with CALENDAR "
        "time only — 64 rows/day at any corpus rate; window geometry "
        "is derived downstream by register algebra, so no watermark "
        "eviction by design (the registers ARE the stored artifact)"),
    # --- pair-domain counts ---
    "streaming_basket_pairs": (
        "pair-domain: co-occurrence counts over item pairs, bounded "
        "by catalog^2 (not events); the synthetic catalog scales "
        "with SF, hence 1473 -> 14743"),
    "streaming_khop_reach": (
        "pair-domain: per-hop dropDuplicates state keyed "
        "(seed, node), bounded by seeds x |V| (graph entities, which "
        "scale with SF), independent of event volume; each stage's "
        "stream is one finite frontier that terminates before the "
        "next starts"),
    "streaming_label_propagation": (
        "entity-keyed: per-node label->count vote map, bounded by "
        "the node's neighborhood label domain (degree + self-vote — "
        "graph entities, which scale with SF), independent of event "
        "volume; each stage's stream is one finite label frontier "
        "that terminates before the next starts"),
}


class _ProgressTap:
    """StreamingQueryListener recording every micro-batch progress as
    a plain dict (events arrive asynchronously; ``drain`` polls until
    the feed is quiet)."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class Impl(StreamingQueryListener):
            def __init__(self):
                self.ps: list[dict] = []
                self.started: list[str] = []
                self.terminated: list[str] = []

            def onQueryStarted(self, e):
                self.started.append(str(e.id))

            def onQueryProgress(self, e):
                import json
                self.ps.append(json.loads(e.progress.json))

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                self.terminated.append(str(e.id))

        return Impl()


def _drain(tap, quiet_s: float = 1.0, cap_s: float = 60.0) -> bool:
    """Wait for the listener feed to settle. Completion is keyed on
    TERMINATION, not a wall cap (round 15; the old 10 s cap could cut
    the final QueryProgress on a slow VM — memory notes ~1.4x speed
    drift between rounds — silently undercounting numRowsTotal and
    letting an unbounded entry pass as bounded): every started query
    must have terminated AND the progress feed must be quiet for
    ``quiet_s`` (events are delivered asynchronously, so termination
    alone does not mean the last progress has landed). The raised
    ``cap_s`` is a hang backstop only; returns False when it fires so
    the caller can refuse to treat the entry's profile as complete."""
    import time
    deadline, last, last_t = time.time() + cap_s, -1, time.time()
    while time.time() < deadline:
        n = len(tap.ps)
        if n != last:
            last, last_t = n, time.time()
        elif (time.time() - last_t >= quiet_s
              and len(tap.terminated) >= len(tap.started)):
            return True
        time.sleep(0.1)
    return False


def _entry_state_profile(tap) -> tuple[int, bool]:
    """(final state rows summed over this entry's queries, any
    watermark defined). Final = the max-batchId progress per query id."""
    final: dict[str, dict] = {}
    has_wm = False
    for p in tap.ps:
        qid = p.get("id", "?")
        if (qid not in final
                or p.get("batchId", 0) >= final[qid].get("batchId", 0)):
            final[qid] = p
        if "watermark" in (p.get("eventTime") or {}):
            has_wm = True
    rows = sum(s.get("numRowsTotal", 0)
               for p in final.values()
               for s in (p.get("stateOperators") or []))
    return rows, has_wm


def growth_audit(argv: list[str]) -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from mktd6_flink_spark.session import get_spark

    spark = get_spark("state-growth-audit", extra_conf={
        "spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = argv or sorted(n for n in qs if n.startswith("streaming_"))
    sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    tap = _ProgressTap()
    spark.streams.addListener(tap)
    profile: dict[str, list[tuple[int, bool]]] = {}
    errors: list[tuple[str, str]] = []
    try:
        for sf_dir in sfs:
            for name in names:
                tap.ps.clear()
                tap.started.clear()
                tap.terminated.clear()
                try:
                    qs[name](spark, sf_dir).count()
                except Exception as ex:  # noqa: BLE001
                    errors.append((name, str(ex)[:300]))
                    continue
                if not _drain(tap):
                    # hang backstop fired: the profile may be missing
                    # the final progress — refusing to record it keeps
                    # the entry out of the "bounded" bucket (len<2
                    # profiles are skipped) instead of passing on
                    # undercounted state rows
                    errors.append((name, "drain incomplete at "
                                   f"{sf_dir}: progress feed never "
                                   "settled within cap"))
                    continue
                profile.setdefault(name, []).append(
                    _entry_state_profile(tap))
    finally:
        spark.streams.removeListener(tap)

    flagged, allowed, bounded = [], [], []
    for name, profs in sorted(profile.items()):
        if len(profs) < 2:
            continue
        (r_small, _), (r_large, wm) = profs[0], profs[1]
        grows = (r_large >= MIN_ROWS_AT_LARGE_SF
                 and r_large >= GROWTH_FACTOR * max(r_small, 1))
        line = (f"{name}: state {r_small} -> {r_large} rows"
                f"{' (watermarked)' if wm else ''}")
        if not grows or wm:
            bounded.append(line)
            print(f"  ✓ {line}")
        elif name in GROWTH_ALLOWLIST:
            allowed.append(f"{line} — ALLOWLISTED: "
                           f"{GROWTH_ALLOWLIST[name]}")
            print(f"  ~ {line} — allowlisted "
                  f"({GROWTH_ALLOWLIST[name].split(':')[0]})")
        else:
            flagged.append(line)
            print(f"  ✗ UNBOUNDED {line}")
    for name, msg in errors:
        print(f"  ! {name} errored: {msg}")
    print(f"\n{len(bounded)} bounded/watermarked, {len(allowed)} "
          f"allowlisted (annotated), {len(flagged)} UNBOUNDED, "
          f"{len(errors)} errors")
    return 1 if flagged or errors else 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "--growth":
        return growth_audit(argv[1:])
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from mktd6_flink_spark.session import get_spark

    spark = get_spark("state-schema-audit", extra_conf={
        "spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from mktd6_flink_spark.streaming import stateful

    qs = entry_mod.queries()
    names = argv or sorted(n for n in qs if n.startswith("streaming_"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            "/root/testdata/sf0.001")

    current = {"name": None, "stateful": False}
    orig = stateful.apply_per_event_stream

    def patched(df, key_cols, order_cols, step_factory, out_schema,
                state_schema, pack, unpack, timeout="NoTimeout"):
        current["stateful"] = True
        specs = _field_specs(spark, state_schema)
        return orig(df, key_cols, order_cols, step_factory, out_schema,
                    state_schema,
                    make_validating_pack(pack, specs, current["name"]),
                    unpack, timeout)

    stateful.apply_per_event_stream = patched
    failures, clean, no_state = [], [], []
    try:
        for name in names:
            current["name"], current["stateful"] = name, False
            try:
                qs[name](spark, sf_dir).count()
            except Exception as ex:  # noqa: BLE001 - report and continue
                failures.append((name, str(ex)[:400]))
                print(f"  ✗ {name}: {str(ex)[:200]}")
                continue
            (clean if current["stateful"] else no_state).append(name)
            tag = "state-validated" if current["stateful"] else "no-state"
            print(f"  ✓ {name} ({tag})")
    finally:
        stateful.apply_per_event_stream = orig
    print(f"\n{len(clean)} state-validated, {len(no_state)} without "
          f"apply_per_event_stream state, {len(failures)} violations/errors")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
