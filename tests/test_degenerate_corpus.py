"""Degenerate-corpus cross-engine sweep: every registry entry whose
oracle reads ONLY the documents table runs against a pathological
corpus — NULL text, empty string, whitespace, one word, punctuation
soup, a repeated-token giant — in BOTH engines, and the results must
match exactly (the same canonicalization the driver's gate applies).

The sf corpora contain none of these degenerates, so this is the net
that catches NULL-vs-0 aggregation drift (the round-7 temperature-mix
advice class), tokenizer edge cases, and empty-group behavior before
100 TB of real data finds them.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

from mktd6_flink_spark.plans import driver_queries as dq

DOCS = [
    (0, None, None, "webcrawl", None),
    (1, "", "en", "webcrawl", 0),
    (2, "   ", "en", "books", 3),
    (3, "word", "en", "books", 4),
    (4, "!!! ??? ### $$$ %%%", "und", "webcrawl", 19),
    (5, "spam " * 400, "en", "webcrawl", 2000),
    (6, "the cat sat on the mat and it is a hat", "en", "wiki", 38),
    (7, "el gato es un animal y la casa es grande", "es", "wiki", 40),
    (8, "the cat sat on the mat and it is a hat", "en", "webcrawl", 38),
]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _documents_only_entries():
    names = []
    for name, sql in dq.ORACLES.items():
        low = sql.lower()
        if "documents" not in low:
            continue
        if any(t in low for t in (
                "events", "embeddings", "lineitem", "orders", "customer",
                "supplier", "nation", "region", " part", "part.", "part ")):
            continue
        if name.startswith("streaming_") or name.startswith("scan_"):
            continue  # live runtime / filesystem staging — out of scope here
        if name in ("pipeline_epoch_shuffle",):
            continue  # global permutation of 9 rows is fine but slow-ish
        names.append(name)
    return names


@pytest.fixture(scope="module")
def degenerate_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degen")
    df = spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", _documents_only_entries())
def test_degenerate_documents_cross_engine(spark, degenerate_dir, name):
    got_df = dq.QUERIES[name](spark, degenerate_dir)
    got = _canon([tuple(r) for r in got_df.collect()], got_df.columns)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(degenerate_dir, 'documents.parquet')}/*.parquet'")
    cur = con.execute(dq.ORACLES[name])
    cols = [c[0] for c in cur.description]
    want = _canon(cur.fetchall(), cols)
    assert got_df.columns and sorted(got_df.columns) == sorted(cols), (
        name, got_df.columns, cols)
    assert got == want, (name, got[:3], want[:3])


def test_orc_roundtrip_degenerate_fidelity(spark, degenerate_dir,
                                          tmp_path):
    """ORC write/read must preserve the pathological corpus byte-for-
    byte — NULL text AND NULL lang/n_chars, empty string (distinct
    from NULL), whitespace-only, multi-byte-free punctuation soup, a
    2000-char repeated-token giant. scan_orc_roundtrip checks format
    fidelity by aggregate at the gate; this pins it row-by-row on the
    values most likely to diverge (NULL vs '' is exactly the class a
    format shim gets wrong). Unicode is exercised too."""
    src = spark.read.parquet(
        os.path.join(degenerate_dir, "documents.parquet"))
    extra = spark.createDataFrame(
        [(9, "héllo wörld 中文 🙂", "und", "wiki", 17)], src.schema)
    df = src.unionByName(extra)
    base = str(tmp_path)
    df.write.option("compression", "snappy").orc(f"{base}/docs")
    back = spark.read.orc(f"{base}/docs")
    assert back.schema == df.schema
    want = sorted(tuple(r) for r in df.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want
