"""One benchmark run in a fresh process (started by ``run.py``, which
sets its environment and working directory). Writes the run's result to
``--result`` as JSON and exits 0 only when every output checked out."""

from __future__ import annotations

import argparse
import os
import time

from . import batch, live
from .record import (PeakRss, Tracer, jobs_between, median, percentile,
                     shuffle_write_mb)

# The metrics every workload reports, with their units; BENCHMARK.json
# declares the same names and units.
E2E_UNITS = {"setup_s": "s", "latency_p50_s": "s", "makespan_s": "s",
             "throughput_eps": "ops/s", "peak_rss_mb": "MB"}
LAYER_UNITS = {"session.start_s": "s", "session.warmup_s": "s",
               "inputs.gen_s": "s", "plans.build_s": "s",
               "plans.exec_s": "s", "spark.jobs": "count",
               "spark.shuffle_write_mb": "MB", "trace.cost_s": "s"}


def _spark(tmp: str):
    from mktd6_flink_spark.session import get_spark

    # keep the driver JVM's scratch files inside the run directory
    spark = get_spark("perfbench", {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def live_result(res: dict, t0: float) -> dict:
    """exchange_live: latency of the open-loop window's ops; makespan and
    throughput of the backlog drains (medians of three)."""
    chk = res["check"]
    lat = res["latency_s"]
    return {
        "e2e": {"setup_s": res["window"][0] - t0,
                "latency_p50_s": median(lat),
                "makespan_s": median([d for d, _ in res["drains"]]),
                "throughput_eps": median([n / d for d, n in res["drains"]])},
        # the stage-level record comes from the queries' own progress, so
        # every run reports it, traced or not
        "extra": {**live.layer_metrics(res),
                  "latency_p90_s": (percentile(lat, 0.9), "s"),
                  "latency_samples": (len(lat), "count"),
                  "backlog_growing": (res["backlog_growing"], "bool")},
        "attempted": res["attempted"],
        "failed": chk["failed"] + (0 if chk["final_state_ok"] else 1),
        "valid": (res["warm_ok"] and res["drained"]
                  and not res["backlog_growing"]),
        "check": chk}


def batch_result(res: dict, t0: float) -> dict:
    """batch_mix: latency of one pass (a refresh of every entry);
    makespan of the fixed set of passes."""
    # set-up counts the input generation once, at its median of three
    gen_s = res["gen_s"]
    n_calls = len(batch.ENTRIES) * len(res["passes"])
    return {
        "e2e": {"setup_s": res["t_window"] - t0 - sum(gen_s) + median(gen_s),
                "latency_p50_s": median(res["passes"]),
                "makespan_s": sum(res["passes"]),
                "throughput_eps": n_calls / sum(res["passes"])},
        "extra": {"passes": (len(res["passes"]), "count"),
                  "latency_p90_s": (percentile(res["passes"], 0.9), "s")},
        "attempted": len(batch.ENTRIES) + n_calls,
        "failed": res["check"]["failed"],
        "valid": True,
        "check": res["check"]}


def layers(spark, tracer, workload: str, raw: dict, start_s: float) -> dict:
    """The traced run's per-layer record: the set every workload measures
    (``common``) plus the workload's own detail."""
    spans: dict[str, list[float]] = {}
    for s in tracer.spans:
        spans.setdefault(s["name"], []).append(s["end"] - s["start"])
    common = {"session.start_s": start_s,
              "session.warmup_s": sum(spans["session.warmup"]),
              "inputs.gen_s": median(spans["inputs.generate"])}
    if workload == "exchange_live":
        detail = live.layer_metrics(raw)
        b2 = raw["stage_batches"]["stage2"]
        # per micro-batch of either stage, over the open-loop window
        w0, w1 = raw["window"]
        n_batches = sum(1 for b in raw["stage_batches"].values() for p in b
                        if w0 <= live.end_s(p) <= w1)
        jobs = jobs_between(spark, w0, w1)
        common.update({
            "plans.build_s": (sum(spans["plans.market.build"])
                              + sum(spans["plans.market.start"])),
            "plans.exec_s": median([p["durationMs"]["triggerExecution"]
                                    for p in b2]) / 1000.0,
            "spark.jobs": len(jobs) / n_batches,
            "spark.shuffle_write_mb": (shuffle_write_mb(spark, jobs)
                                       / n_batches),
        })
    else:
        detail = batch.layer_metrics(raw)
        per_pass = [[sum(r[k] for r in rec.values())
                     for k in ("build_s", "exec_s", "jobs",
                               "shuffle_write_mb")]
                    for rec in raw["layers"]]
        for i, name in enumerate(("plans.build_s", "plans.exec_s",
                                  "spark.jobs", "spark.shuffle_write_mb")):
            common[name] = median([p[i] for p in per_pass])
    common["trace.cost_s"] = tracer.cost_s
    return {"common": {k: (v, LAYER_UNITS[k]) for k, v in common.items()},
            "detail": detail}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])
    rss = PeakRss(os.getpid()).start()
    tracer = Tracer(bool(args.trace))
    with tracer.span("run", workload=args.workload, seed=args.seed):
        with tracer.span("session.start"):
            t_s = time.perf_counter()
            spark = _spark(os.environ["TMPDIR"])
            start_s = time.perf_counter() - t_s
        if args.workload == "exchange_live":
            raw = live.run(spark, tracer, args.seed, args.seconds, args.work)
            out = live_result(raw, t0)
        else:
            raw = batch.run(spark, tracer, args.seed, args.seconds,
                            args.work)
            out = batch_result(raw, t0)
        out["e2e"]["peak_rss_mb"] = rss.stop_mb()
        out["e2e"] = {k: (v, E2E_UNITS[k]) for k, v in out["e2e"].items()}
        if args.trace:
            out["layers"] = layers(spark, tracer, args.workload, raw,
                                   start_s)
        spark.stop()
    out["raw"] = raw
    tracer.dump(args.result, **out)
    return 0 if out["failed"] == 0 and out["valid"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
