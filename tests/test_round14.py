"""Round-14 tests: bounded-state streaming fertility (r13 verdict #1),
OOV byte-fallback in the fertility metric (#6), and their structural
pins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# --------------------------------- streaming fertility: stateless, multi-batch

def _tiny_docs(spark):
    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog"),
        (2, "en", "the dog sleeps while the fox runs"),
        (3, "fr", "le renard saute par dessus le chien"),
        (4, "fr", "le chien dort et le renard court"),
        (5, "de", "der fuchs springt ueber den hund"),
        (6, None, "zzz qqq xxx"),
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_streaming_fertility_multibatch_zero_state(spark, tmp_path):
    """The r12 streaming fertility kept one state-store row per
    (lang, doc_id) forever — O(corpus) state. The r14 rewrite
    collapses per-doc inside foreachBatch: run it over the docs SPLIT
    ACROSS THREE FILES with maxFilesPerTrigger=1 (>= 3 micro-batches)
    and assert (a) the result matches the batch twin exactly, and
    (b) NO micro-batch registered any state operator (the structural
    no-state contract — numRowsTotal has nothing to even report)."""
    from mktd6_flink_spark.plans.driver_queries import (
        _fertility_finalize, _fertility_per_doc, _fertility_vocab_df,
        _run_fertility_stream)

    docs = _tiny_docs(spark)
    vdf = _fertility_vocab_df(spark, docs)
    d = str(tmp_path / "fert_docs")
    for i in range(3):
        (docs.filter((F.col("doc_id") % 3) == i)
         .coalesce(1).write.mode("append")
         .parquet(os.path.join(d, f"part{i}")))
    # flatten: one dir, three files
    flat = str(tmp_path / "fert_flat")
    os.mkdir(flat)
    n = 0
    for i in range(3):
        pd_dir = os.path.join(d, f"part{i}")
        for f in sorted(os.listdir(pd_dir)):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(pd_dir, f),
                           os.path.join(flat, f"docs-{n:03d}.parquet"))
                n += 1
    assert n >= 3
    per_doc, progresses = _run_fertility_stream(
        spark, vdf, flat, docs.schema, glob="*.parquet", max_files=1)
    data_batches = [p for p in progresses
                    if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, "expected one micro-batch per file"
    for p in progresses:
        assert p["stateOperators"] in ([], None), (
            "streaming fertility must hold ZERO keyed state; got "
            f"{p['stateOperators']}")
    got = {r["lang"]: r.asDict()
           for r in _fertility_finalize(per_doc).collect()}
    want = {r["lang"]: r.asDict()
            for r in _fertility_finalize(
                _fertility_per_doc(vdf, docs)).collect()}
    assert got == want


# ------------------------------------------------- OOV byte-fallback pins

def test_fertility_oov_word_encodes_char_level(spark):
    """A word OUTSIDE the trained vocab must contribute len(word)
    tokens (character-level fallback), not silently drop from the
    metric. Train with cap=1 so only the single most frequent word is
    in-vocab."""
    from mktd6_flink_spark.plans.driver_queries import (
        _fertility_per_doc, _fertility_vocab_df)

    docs = spark.createDataFrame(
        [(1, "en", "aaa aaa aaa zebra")],
        "doc_id long, lang string, text string")
    vdf = _fertility_vocab_df(spark, docs, cap=1)
    assert vdf.count() == 1  # only "aaa" trained
    row = _fertility_per_doc(vdf, docs).collect()[0]
    # 3x "aaa" (in-vocab, merged to <=? tokens) + "zebra" OOV = 5 tokens
    in_vocab_tl = vdf.collect()[0]["_tl"]
    assert row["n_words"] == 4
    assert row["n_tokens"] == 3 * in_vocab_tl + len("zebra")


def test_fertility_oov_raises_tokens_per_word(spark):
    """Shrinking the vocab cap forces more words OOV -> char-level
    fallback -> tokens_per_word must NOT DECREASE (a trained merge
    never makes a word longer than its characters)."""
    from mktd6_flink_spark.plans.driver_queries import (
        _fertility_finalize, _fertility_per_doc, _fertility_vocab_df)

    docs = _tiny_docs(spark)

    def tpw(cap):
        vdf = _fertility_vocab_df(spark, docs, cap=cap)
        rows = _fertility_finalize(
            _fertility_per_doc(vdf, docs)).collect()
        tot_t = sum(r["n_tokens"] for r in rows)
        tot_w = sum(r["n_words"] for r in rows)
        return tot_t / tot_w

    full, starved = tpw(None), tpw(2)
    assert starved >= full
    assert starved > 1.0  # OOV words really fragmented


def test_bpe_encode_oov_fallback(spark):
    """pipeline_bpe_encode shares the fallback: no doc loses words to
    the vocab join even when the trained vocab is tiny."""
    from mktd6_flink_spark.plans.driver_queries import (
        _fertility_token_len, _fertility_vocab_df)
    from mktd6_flink_spark.functions import text as tx

    docs = spark.createDataFrame(
        [(7, "en", "unique1 unique2 unique3")],
        "doc_id long, lang string, text string")
    vdf = _fertility_vocab_df(spark, docs, cap=1)
    dw = docs.select("doc_id",
                     F.explode(tx.tokens(F.col("text"))).alias("w"))
    j = dw.join(F.broadcast(vdf), "w", "left")
    out = (j.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_words"),
                F.sum(_fertility_token_len()).alias("n_tokens"))
           .collect()[0])
    assert out["n_words"] == 3  # nothing dropped
    assert out["n_tokens"] >= 3


# ------------------------------------- gate fingerprint canonicalization

def test_gate_canon_ignores_comments_and_docstrings():
    """A comment- or docstring-only edit to a helper must NOT change
    its fingerprint part (the r14 cache.py comment edit flooded all
    257 entries before canonicalization), while a code edit must."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "gate_window", "tools/gate_window.py")
    gw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gw)

    base = 'def f(x):\n    """doc."""\n    return x + 1\n'
    doc_edit = 'def f(x):\n    """different doc."""\n    return x + 1\n'
    comment_edit = ('def f(x):\n    """doc."""\n'
                    '    # a new comment\n    return x + 1\n')
    code_edit = 'def f(x):\n    """doc."""\n    return x + 2\n'
    assert gw._canon(base) == gw._canon(doc_edit) == gw._canon(comment_edit)
    assert gw._canon(base) != gw._canon(code_edit)
    # non-python parts (oracle SQL) hash as raw text
    assert gw._canon("SELECT 1 AS x") == "SELECT 1 AS x"


def test_gate_fingerprint_sees_function_body_imports():
    """The r11/r14 blind spot: an entry importing a codec INSIDE its
    function body must fold that codec's source into its fingerprint
    — here checked structurally on the real registry: mm_decode_jpeg's
    expanded parts must include jpeg.py content."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "gate_window", "tools/gate_window.py")
    gw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gw)
    from mktd6_flink_spark.plans import driver_queries as dq

    parts = []
    gw._expand(dq.QUERIES["mm_decode_jpeg"], dq, parts, set(), 0)
    blob = "\n".join(parts)
    assert "decode_baseline_jpeg" in blob
    assert "_destuff" in blob  # jpeg.py internals reached the blob


def test_gate_fingerprint_follows_stream_twin_closure():
    """A _stream_twin entry's source is the shared factory body; its
    pipeline lives in the closure, which the fingerprint must follow —
    the twin's blob reaches jpeg.py, and two twins hash differently."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "gate_window", "tools/gate_window.py")
    gw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gw)
    from mktd6_flink_spark.plans import driver_queries as dq

    parts = []
    gw._expand(dq.QUERIES["streaming_decode_jpeg"], dq, parts, set(), 0)
    assert "_destuff" in "\n".join(parts)
    fps = gw._entry_fingerprints()
    assert fps["streaming_decode_bmp"] != fps["streaming_decode_gif"]


# ----------------------------------- grouped top-5 == window (property)

def test_grouped_top5_equals_row_number_window(spark):
    """_grouped_top5 replaced the per-query row_number window in every
    recall dial; this pins the equivalence on adversarial data —
    duplicate distances (tie order), sparse queries, single-candidate
    groups — so a future edit cannot silently drift the exact-truth
    rankings the oracles hash."""
    import random

    from pyspark.sql import Window
    from mktd6_flink_spark.plans.driver_queries import _grouped_top5

    rng = random.Random(61)
    rows = [(q, n, rng.choice([1, 2, 3, 5, 5, 5, 8]))
            for q in range(7)
            for n in rng.sample(range(100), rng.choice([1, 3, 12, 40]))]
    scored = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, _dm long")
    got = {(r["query_id"], r["neighbor_id"])
           for r in _grouped_top5(scored).collect()}
    w = Window.partitionBy("query_id").orderBy(
        F.col("_dm").asc(), F.col("neighbor_id").asc())
    want = {(r["query_id"], r["neighbor_id"])
            for r in scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5).collect()}
    assert got == want


# --------------------------------- foreachBatch replay idempotence

def test_fertility_spill_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: the engine REPLAYS the last
    batch id after a failure. The spill writer must converge on
    replay (batch-id-keyed overwrite), not duplicate rows — call the
    writer twice with the same bid and assert single-copy totals."""
    from mktd6_flink_spark.plans.driver_queries import (
        _fertility_per_doc, _fertility_spill_writer, _fertility_vocab_df)

    docs = _tiny_docs(spark)
    vdf = _fertility_vocab_df(spark, docs)
    out = str(tmp_path / "fert_replay")
    w = _fertility_spill_writer(vdf, out)
    w(docs, 0)
    w(docs, 0)  # simulated replay of the same micro-batch
    got = spark.read.parquet(os.path.join(out, "b*"))
    want = _fertility_per_doc(vdf, docs)
    assert got.count() == want.count()  # no duplication
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_fertility_stream_crash_restart_exactly_once(spark, tmp_path):
    """REAL checkpoint recovery, not simulation: the stream CRASHES
    after spilling its first micro-batch (a poison flag raises inside
    foreachBatch), then a second start on the SAME checkpoint + spill
    dir resumes, replays, and drains. The final per-doc table must
    equal the batch collapse exactly — the at-least-once replay must
    converge through the batch-id-keyed overwrite, never duplicate."""
    from mktd6_flink_spark.plans.driver_queries import (
        _fertility_per_doc, _fertility_spill_writer, _fertility_vocab_df)

    docs = _tiny_docs(spark)
    vdf = _fertility_vocab_df(spark, docs)
    src = str(tmp_path / "fert_crash_src")
    for i in range(3):
        (docs.filter((F.col("doc_id") % 3) == i).coalesce(1)
         .write.mode("overwrite")
         .parquet(os.path.join(src, f"stage{i}")))
    flat = str(tmp_path / "fert_crash_flat")
    os.mkdir(flat)
    n = 0
    for i in range(3):
        sd = os.path.join(src, f"stage{i}")
        for f in sorted(os.listdir(sd)):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(sd, f),
                           os.path.join(flat, f"d{n:03d}.parquet"))
                n += 1
    out_dir = str(tmp_path / "fert_crash_out")
    os.mkdir(out_dir)
    ckpt = str(tmp_path / "fert_crash_ckpt")
    poison = os.path.join(out_dir, "_poison")
    open(poison, "w").write("1")
    inner = _fertility_spill_writer(vdf, out_dir)

    def crashing(b, bid):
        inner(b, bid)  # spill lands BEFORE the crash -> replay hits it
        if int(bid) >= 1 and os.path.exists(poison):
            os.remove(poison)
            raise RuntimeError("injected crash after batch spill")

    def start():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet").parquet(flat)
                .writeStream.foreachBatch(crashing)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q1 = start()
    try:
        q1.awaitTermination(300)
        crashed = False
    except Exception:
        crashed = True
    assert crashed, "poison batch should have failed the first run"
    q2 = start()  # same checkpoint: resumes, REPLAYS the failed batch
    q2.awaitTermination(300)
    got = spark.read.parquet(os.path.join(out_dir, "b*"))
    want = _fertility_per_doc(vdf, docs)
    assert got.count() == want.count(), "replay duplicated rows"
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
