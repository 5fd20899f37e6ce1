"""Spark-free tests of the benchmark's own machinery.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from perfbench import gen, live, run, worker
from perfbench.record import Tracer, median, percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(out, seed: int) -> dict[str, bytes]:
    out.mkdir()
    ops = gen.exchange_ops(seed, 400)
    gen.write_ops_file(ops, list(range(len(ops))), str(out / "stage"),
                       str(out / "ops.parquet"))
    gen.write_tables(seed, 0.002, str(out), tuple(gen.TABLES))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = _files(tmp_path / "a", 7), _files(tmp_path / "b", 7)
    assert set(a) == {"ops.parquet", "events.parquet", "documents.parquet",
                      "embeddings.parquet"}
    assert a == b


def test_different_seed_changes_inputs(tmp_path):
    a, b = _files(tmp_path / "a", 7), _files(tmp_path / "b", 8)
    for name in a:
        assert a[name] != b[name], name


def test_ops_start_with_a_price_and_replay_is_exact():
    ops = gen.exchange_ops(3, 2000)
    assert ops[0].kind == "PRICE"
    results, final = gen.replay(ops)
    assert len(results) == sum(op.kind != "PRICE" for op in ops)
    statuses = {r[2] for r in results.values()}
    assert "ACCEPTED" in statuses and len(statuses) > 1
    # dyadic prices and integer amounts: every coin balance is a multiple
    # of 1/16, so no rounding ever entered the replay
    assert all((st[0] * 16).is_integer() for st in final.values())


def test_replay_bails_out_a_broke_trader():
    price = gen.Op("PRICE", 0, None, None, None, None, 4.0, None, None)
    buy = gen.Op("ORDER", 1, "T", "a", "BUY", 2, None, None, None)
    feed = gen.Op("FEED", 2, "T", "b", None, None, None, None, 7)
    results, final = gen.replay([price, buy, feed])
    # 10 - 8 = 2 coins and 7 shares left; feeding 7 monkeys leaves 0
    # shares with <= 3 coins and nothing in flight: bailout +10/+5
    assert results["a"][2:] == ("ACCEPTED", 2.0, 7, 0, 0, 0)
    assert results["b"][2:] == ("ACCEPTED", 12.0, 5, 1, 7, 0)
    assert final["T"] == (12.0, 5, 1, 7, 0)


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(100), 0.9) is None      # 9 beyond
    assert percentile(range(101), 0.9) == 90.0      # 10 beyond
    assert percentile(range(19), 0.5) is None
    assert percentile(range(21), 0.5) == 10.0
    assert percentile([], 0.5) is None
    assert median([3, 1, 2]) == 2 and median([4, 1, 2, 3]) == 2.5


def test_spans_link_to_their_parents(tmp_path):
    tr = Tracer(True)
    with tr.span("run") as root:
        with tr.span("child") as child:
            with tr.span("grandchild"):
                pass
        # another thread has no open span: it names its parent
        t = threading.Thread(target=_in_thread, args=(tr, root))
        t.start()
        t.join()
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    rec = json.loads(path.read_text())
    by_name = {s["name"]: s for s in rec["spans"]}
    assert by_name["run"]["parent"] is None
    assert by_name["child"]["parent"] == root
    assert by_name["grandchild"]["parent"] == child
    assert by_name["tick"]["parent"] == root
    assert by_name["thread-child"]["parent"] == by_name["tick"]["id"]
    assert {s["run"] for s in rec["spans"]} == {rec["run_id"]}
    for s in rec["spans"]:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = next(x for x in rec["spans"] if x["id"] == s["parent"])
            assert p["start"] <= s["start"] and s["end"] <= p["end"]


def _in_thread(tr: Tracer, parent: int) -> None:
    with tr.span("tick", parent=parent):
        with tr.span("thread-child"):
            pass


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("run") as sid:
        assert sid is None
    assert tr.spans == []


def test_backlog_counts_files_not_yet_committed(tmp_path):
    # five files written at t=1..5; source batch 0 read the first two and
    # committed at t=3.5, source batch 1 read the next three and
    # committed at t=5.5
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    (log_dir / "0").write_text("v1\n" + "\n".join(
        json.dumps({"path": f"file:///in/{n}", "batchId": 0})
        for n in ("a", "b")))
    (log_dir / "1").write_text("v1\n" + "\n".join(
        json.dumps({"path": f"file:///in/{n}", "batchId": 1})
        for n in ("c", "d", "e")))
    (log_dir / ".0.crc").write_bytes(b"\x00")
    file_batch = live.source_batches(str(tmp_path))
    assert file_batch == {"a": 0, "b": 0, "c": 1, "d": 1, "e": 1}
    files = [(float(t), n) for t, n in zip(range(1, 6), "abcde")]
    batches = [
        {"timestamp": "1970-01-01T00:00:02.500Z",
         "durationMs": {"triggerExecution": 1000},
         "sources": [{"endOffset": {"logOffset": 0}}]},
        {"timestamp": "1970-01-01T00:00:05.000Z",
         "durationMs": {"triggerExecution": 500},
         "sources": [{"endOffset": {"logOffset": 1}}]},
    ]
    assert live.backlog_series(files, batches, file_batch,
                               [1, 2, 3.5, 4, 5, 5.5]) == [1, 2, 1, 2, 3, 0]


def test_backlog_growth_guard():
    # ramp from the idle warm-up, then a steady sawtooth: sustainable
    ramp = list(range(1, 28))
    saw = [18 + (i % 18) for i in range(53)]
    assert not live.backlog_growing(ramp + saw)
    # a backlog that keeps rising through the window is not
    assert live.backlog_growing(list(range(1, 81)))


def _fake_metrics(names_units):
    return {m["name"]: (1.5, m["unit"]) for m in names_units}


def test_final_line_matches_benchmark_json(spec):
    for key in ("end_to_end", "per_layer"):
        line = run.final_line(True, 3, 0, _fake_metrics(spec[key]),
                              spec[key])
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert [(n, m["unit"]) for n, m in line["metrics"].items()] == [
            (m["name"], m["unit"]) for m in spec[key]]


def test_final_line_refuses_a_wrong_unit(spec):
    metrics = _fake_metrics(spec["end_to_end"])
    metrics["setup_s"] = (1.0, "ms")
    with pytest.raises(ValueError):
        run.final_line(True, 1, 0, metrics, spec["end_to_end"])


def test_workers_emit_every_declared_metric_with_its_unit(spec):
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert set(worker.E2E_UNITS) == set(declared)
    assert worker.E2E_UNITS == declared
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert worker.LAYER_UNITS == layer


def test_benchmark_json_contract(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
