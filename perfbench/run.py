#!/usr/bin/env python3
"""Benchmark launcher: one workload run in a fresh process.

    python3 perfbench/run.py --workload exchange_live --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. The run gets its own directory under
``perfbench/out/`` holding TMPDIR, SPARK_LOCAL_DIRS and every streaming
checkpoint; it is deleted when the run ends. The worker process runs
with PYTHONPATH set to the repository root (so Spark's Python workers
can import the engine from any working directory) and SPARK_GRAFT_CPUS
pinned to at most the CPUs this process may use.

Prints the metrics as ``name value unit`` lines, then, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end set; with ``--trace 1`` the
per-layer set, and the run's spans and full layer record are written to
``perfbench/out/<workload>-seed<seed>-trace1.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

# run as a script from the repository root: make the package importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
from perfbench.record import descendants, proc_table  # noqa: E402

WORKLOADS = ("exchange_live", "batch_mix")
LIMIT_S = 150.0  # the worker's time; stopping what is left takes <= 20 s


def _tree(root: int) -> dict[int, str]:
    """{pid: start time} of ``root`` and every descendant."""
    table = proc_table()
    return {pid: table[pid][1] for pid in descendants(root, table)}


def _alive(pid: int, started: str) -> bool:
    """The process ``pid`` started at ``started`` still runs (not a
    zombie, not a reused pid)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == started and fields[0] != "Z"


def _stop_all(seen: dict[int, str]) -> None:
    """Terminate every process the run started and wait until each has
    ended (SIGKILL after 10 s)."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        live = [p for p, st in seen.items() if _alive(p, st)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while live and time.time() < deadline:
            time.sleep(0.1)
            live = [p for p in live if _alive(p, seen[p])]
        if not live:
            return


def _fmt(name: str, value, unit: str) -> str:
    return f"{name} {'n/a' if value is None else repr(value)} {unit}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mktd6_flink_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root "
              "(mktd6_flink_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    out_dir = os.path.join(root, "perfbench", "out")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local"),
              os.path.join(run_dir, "work")):
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    if os.environ.get("SPARK_GRAFT_CPUS", "").isdigit():
        cpus = max(1, min(cpus, int(os.environ["SPARK_GRAFT_CPUS"])))
    env = dict(os.environ, PYTHONPATH=root, PYTHONHASHSEED="0", TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_GRAFT_CPUS=str(cpus), PERFBENCH_T0=repr(t0))
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}.log")
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.join(run_dir, "work"), "--result", result]
    seen: dict[int, str] = {}
    # a SIGTERM still stops the run's processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log, "w") as logf:
            child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                     stderr=subprocess.STDOUT)
            seen.update(_tree(child.pid))
            while child.poll() is None:
                if time.time() - t0 > LIMIT_S:
                    print(f"perfbench: run exceeded {LIMIT_S:.0f} s",
                          file=sys.stderr)
                    break
                seen.update(_tree(child.pid))
                time.sleep(0.5)
        _stop_all(seen)
        code = child.wait()
        if not os.path.exists(result):
            print(f"perfbench: worker exited {code} without a result; "
                  f"see {os.path.relpath(log, root)}", file=sys.stderr)
            return 1
        with open(result) as f:
            res = json.load(f)
    finally:
        _stop_all(seen)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layers = res["layers"]
        for name, (v, unit) in sorted(layers["detail"].items()):
            print(_fmt(name, v, unit))
        metrics = layers["common"]
        for name, (v, unit) in sorted(res["e2e"].items()):
            print(_fmt(f"traced.{name}", v, unit))
        res["overhead"] = _overhead(out_dir, args, res)
        for name, (v, unit) in sorted(res["overhead"].items()):
            print(_fmt(f"overhead.{name}", v, unit))
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                               "-trace1.json"), "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    else:
        for name, (v, unit) in sorted(res["extra"].items()):
            print(_fmt(name, v, unit))
        metrics = res["e2e"]
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                               "-trace0.json"), "w") as f:
            json.dump({k: res[k] for k in ("e2e", "extra", "check", "raw")},
                      f, indent=1, sort_keys=True)
    print(_fmt("error_rate", res["failed"] / res["attempted"], "1"))
    print(_fmt("check", res["check"], ""))
    correct = res["failed"] == 0 and res["valid"] and code == 0
    print(json.dumps(final_line(correct, res["attempted"], res["failed"],
                                metrics, wanted)))
    return 0 if correct else 1


def final_line(correct: bool, attempted: int, failed: int, metrics: dict,
               wanted: list[dict]) -> dict:
    """The result object: exactly the metrics ``wanted`` (a BENCHMARK.json
    metric list), each with its declared unit. ``metrics`` maps a name to
    (value, unit); a missing metric or a unit other than the declared one
    is an error, never a silent relabel."""
    out = {}
    for m in wanted:
        value, unit = metrics[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit!r}, declared "
                             f"{m['unit']!r}")
        out[m["name"]] = {"value": value, "unit": unit}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": out}


def _overhead(out_dir: str, args, traced: dict) -> dict:
    """Traced minus untraced value of each end-to-end metric, against the
    untraced run of the same workload and seed when one was recorded."""
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 "-trace0.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)["e2e"]
    return {k: (v - base[k][0], unit)
            for k, (v, unit) in traced["e2e"].items()}


if __name__ == "__main__":
    raise SystemExit(main())
