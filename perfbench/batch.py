"""``batch_mix``: one closed-loop client runs back-to-back passes over
five registry entries, one for each batch layer under them. A pass calls
each entry (build: until it returns its DataFrame) and runs a noop write
of the result (exec). Passes alternate forward and reverse order so no
entry always follows the same neighbour."""

from __future__ import annotations

import datetime
import math
import os
import time

from mktd6_flink_spark.plans.driver_queries import ORACLES, QUERIES

from . import gen
from .record import jobs_of_group, median, shuffle_write_mb

# one entry per batch layer, named by the layer whose cost it carries
ENTRIES = (
    "asof_join_price",    # operators.asof
    "st6_trader_ledger",  # operators.folds
    "w3_running_sum",     # operators.windows
    "dedup_clusters",     # functions.dedup (connected-components ladder)
    "sim_ivfpq_ann",      # functions.similarity (IVF-PQ ADC scan)
)
TABLES = ("events", "documents", "embeddings")
SF = 0.02            # 20k events, 1k documents, 400 embeddings
NOMINAL_PASS_S = 5.5  # sizes the pass count to the requested seconds


def call(spark, name: str, data_dir: str, tracer, group: str | None):
    """One entry call: (build_s, exec_s, phase job groups)."""
    sc = spark.sparkContext
    groups = {}
    with tracer.span(f"plans.{name}.build"):
        if group:
            groups["build"] = f"{group}:build"
            sc.setJobGroup(groups["build"], name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, data_dir)
        t1 = time.perf_counter()
    with tracer.span(f"plans.{name}.exec"):
        if group:
            groups["exec"] = f"{group}:exec"
            sc.setJobGroup(groups["exec"], name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    if group:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return t1 - t0, t2 - t1, groups


def n_passes(seconds: int) -> int:
    """A fixed pass count for a window of ``seconds``: the same work is
    timed on every commit, however fast a pass gets."""
    return max(2, round(seconds / NOMINAL_PASS_S))


def run(spark, tracer, seed: int, seconds: int, work: str) -> dict:
    data_dir = os.path.join(work, "data")
    gen_s = []
    for _ in range(3):
        with tracer.span("inputs.generate"):
            t0 = time.perf_counter()
            gen.write_tables(seed, SF, data_dir, TABLES)
            gen_s.append(time.perf_counter() - t0)

    # fixed warm-up of two passes (after one, the next pass still ran
    # 15-25 % slower than later ones); the first pass's collected
    # results are the ones checked against the oracles
    results = {}
    with tracer.span("session.warmup"):
        for name in ENTRIES:
            df = QUERIES[name](spark, data_dir)
            results[name] = (df.columns, df.dtypes, df.collect())
        for name in ENTRIES[::-1]:
            call(spark, name, data_dir, tracer, None)

    passes, layers = [], []
    t_window = time.time()
    with tracer.span("window"):
        for k in range(n_passes(seconds)):
            order = ENTRIES if k % 2 == 0 else ENTRIES[::-1]
            with tracer.span("pass", index=k):
                t0 = time.perf_counter()
                rec = {}
                for name in order:
                    group = f"pb{k}:{name}" if tracer.enabled else None
                    b, e, groups = call(spark, name, data_dir, tracer, group)
                    rec[name] = {"build_s": b, "exec_s": e, "groups": groups}
                passes.append(time.perf_counter() - t0)
            layers.append(rec)

    for rec in layers:
        for r in rec.values():
            groups = r.pop("groups")
            if not tracer.enabled:
                continue
            r["jobs"] = r["shuffle_write_mb"] = 0
            for phase, g in groups.items():
                jobs = jobs_of_group(spark, g)
                r[f"jobs_{phase}"] = len(jobs)
                r["jobs"] += len(jobs)
                r["shuffle_write_mb"] += shuffle_write_mb(spark, jobs)
    check = check_oracles(results, data_dir, TABLES)
    return {"gen_s": gen_s, "t_window": t_window, "passes": passes,
            "layers": layers, "check": check}


def layer_metrics(res: dict) -> dict:
    """Per-entry medians over the timed passes of a traced run."""
    out = {}
    for name in ENTRIES:
        rows = [rec[name] for rec in res["layers"]]
        for key, unit in (("build_s", "s"), ("exec_s", "s"),
                          ("jobs_build", "count"), ("jobs_exec", "count"),
                          ("shuffle_write_mb", "MB")):
            out[f"plans.{name}.{key}"] = (
                median([r.get(key, 0) for r in rows]), unit)
    return out


# --------------------------------------------------------------------------
# oracle check: the same canonical multiset comparison as
# tools/check_correctness.py (column names, Spark-vs-DuckDB types, row
# count, then every value normalised and the rows compared as sorted
# lists)

_DUCK_TYPE = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE",
              "string": "VARCHAR", "boolean": "BOOLEAN",
              "timestamp": "TIMESTAMP", "float": "FLOAT"}


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


def canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check_oracles(results: dict, data_dir: str, tables) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    bad = {}
    for name, (cols, dtypes, rows) in results.items():
        rel = con.sql(ORACLES[name])
        dcols = list(rel.columns)
        dtype_of = {c: str(t) for c, t in zip(rel.columns, rel.types)}
        drows = rel.fetchall()
        why = []
        if sorted(cols) != sorted(dcols):
            why.append(f"columns {sorted(cols)} != {sorted(dcols)}")
        for c, st in dtypes:
            if _DUCK_TYPE.get(st) and dtype_of.get(c) != _DUCK_TYPE[st]:
                why.append(f"type {c}: {st} vs {dtype_of.get(c)}")
        if len(rows) != len(drows):
            why.append(f"rows {len(rows)} != {len(drows)}")
        elif not why and canon(rows, cols) != canon(drows, dcols):
            why.append("values differ")
        if why:
            bad[name] = "; ".join(why)
    con.close()
    return {"expected": len(results), "failed": len(bad), "mismatch": bad}

