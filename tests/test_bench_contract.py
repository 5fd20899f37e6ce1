"""bench.py stdout contract: the driver captures only a bounded tail
(~2000 chars) of the bench process's output and parses the LAST JSON
line.  Rounds 10 and 15 were both recorded as ``parsed: null`` because
the final line carried per-head data proportional to panel size.  These
tests pin the structural fix: the line is O(1) in panel size and stays
far inside the capture window no matter how the panel grows."""

from __future__ import annotations

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _subtotals(n_rounds: int) -> dict:
    # worst-case-width values: hundreds of seconds with 3 decimals
    return {f"r{r}_comparable_{40 + r}": 999.999
            for r in range(6, 6 + n_rounds)}


def test_compact_line_parses_and_carries_contract_fields():
    line = bench.render_compact_line(145.123, 0.1, 2.067, _subtotals(10))
    d = json.loads(line)
    assert d["metric"] == "headline_total_wall"
    assert d["unit"] == "sec"
    assert d["value"] == 145.123
    assert d["sf"] == 0.1
    assert d["floor_sec"] == 2.067
    assert len(d["subtotals_min"]) == bench._COMPACT_SUBTOTAL_KEEP


def test_compact_line_keeps_latest_rounds_numerically():
    """r15 must beat r6 even though "r15" < "r6" lexically."""
    line = bench.render_compact_line(1.0, 0.1, 1.0, _subtotals(10))
    keys = list(json.loads(line)["subtotals_min"])
    rounds = sorted(int(k.split("_")[0][1:]) for k in keys)
    assert rounds == [12, 13, 14, 15]


def test_compact_line_bounded_regardless_of_panel_growth():
    """Even with 40 rounds of subtotals accumulated, the rendered line
    must stay comfortably inside the driver's ~2000-char tail — the
    driver also prefixes log lines, so demand a wide margin."""
    for n_rounds in (1, 4, 10, 40):
        line = bench.render_compact_line(
            99999.999, 0.1, 9.999, _subtotals(n_rounds))
        assert len(line) < 1200, (n_rounds, len(line))
        json.loads(line)  # must stay valid JSON


def test_compact_line_never_embeds_per_query_timings():
    """The r15 regression: 76 per-head timings rode the final line.
    The contract line must not contain a "queries" key at all."""
    line = bench.render_compact_line(1.0, 0.1, 1.0, _subtotals(10))
    assert "queries" not in json.loads(line)


def test_full_line_carries_queries_and_contract_fields():
    queries = {f"head_{i:02d}_with_a_long_name": 12.345 for i in range(80)}
    line = bench.render_full_line(145.123, 0.1, 2.067, queries)
    d = json.loads(line)
    assert d["metric"] == "headline_total_wall"
    assert d["unit"] == "sec"
    assert d["value"] == 145.123
    assert d["sf"] == 0.1
    assert d["queries"] == queries
    assert "\n" not in line  # ONE line


def _panel_queries(values=None) -> dict:
    """Per-head map over the REAL panel names (the binding size risk
    is the true name lengths, ~17 chars mean at 80 heads)."""
    if values is None:
        values = [12.345] * len(bench.HEADLINE)
    return dict(zip(bench.HEADLINE, values))


def test_final_line_carries_queries_and_fits_tail():
    """r17 verdict task 1: the LAST stdout line must carry the per-head
    queries map AND fit the driver's 2000-char tail whole."""
    queries = _panel_queries()
    line = bench.render_final_line(
        272.705, 0.1, 1.201, queries, _subtotals(12))
    assert len(line) <= bench._FINAL_LINE_MAX
    d = json.loads(line)
    assert d["metric"] == "headline_total_wall"
    assert d["unit"] == "sec"
    assert d["sf"] == 0.1
    assert set(d["queries"]) == set(bench.HEADLINE)
    assert "subtotals_min" not in d
    assert "\n" not in line


def test_final_line_fits_with_wide_values():
    """Wide realistic widths: every head takes tens of seconds.  The
    adaptive ladder must still land under the cap with the queries map
    intact."""
    queries = _panel_queries([87.654] * len(bench.HEADLINE))
    line = bench.render_final_line(
        8765.432, 0.1, 87.654, queries, _subtotals(12))
    assert len(line) <= bench._FINAL_LINE_MAX
    d = json.loads(line)
    assert set(d["queries"]) == set(bench.HEADLINE)


def test_final_line_never_overflows_even_when_queries_cannot_fit():
    """Belt-and-braces tier: if even all-integer values cannot fit
    (hundreds of seconds per head), the line must degrade to the O(1)
    compact form rather than overflow the tail (parsed:null is the one
    unacceptable outcome)."""
    queries = _panel_queries([87654.321] * len(bench.HEADLINE))
    line = bench.render_final_line(
        7012345.678, 0.1, 87654.321, queries, _subtotals(12))
    assert len(line) <= bench._FINAL_LINE_MAX
    json.loads(line)  # still valid JSON


def test_final_line_values_track_inputs_within_quantization():
    """Adaptive precision may quantize, but never by more than 0.5 s
    (integer floor of the ladder) and only largest-first."""
    vals = [0.8 + 0.37 * i for i in range(len(bench.HEADLINE))]
    queries = _panel_queries(vals)
    line = bench.render_final_line(
        sum(vals), 0.1, 1.0, queries, _subtotals(12))
    d = json.loads(line)
    for name, v in queries.items():
        assert abs(d["queries"][name] - v) <= 0.5 + 1e-9, name
    # smallest heads keep sub-second resolution
    smallest = min(queries, key=queries.get)
    assert abs(d["queries"][smallest] - queries[smallest]) <= 0.05 + 1e-9


def test_full_and_final_lines_agree_on_totals():
    """Two stdout lines share the metric name; their value/sf/floor
    must agree so a parser matching either line reads the same totals
    (r17 ADVICE item 2)."""
    queries = _panel_queries([2.345] * len(bench.HEADLINE))
    total, sf, floor = 187.654, 0.1, 1.201
    full = json.loads(bench.render_full_line(total, sf, floor, queries))
    final = json.loads(bench.render_final_line(
        total, sf, floor, queries, _subtotals(12)))
    assert full["value"] == final["value"] == round(total, 3)
    assert full["sf"] == final["sf"] == sf
    if "floor_sec" in final:
        assert final["floor_sec"] == floor


class _AnySpark:
    """Absorbs every Spark call bench.main makes (reads, writes,
    catalog, streams) so main runs without a JVM."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        return self

    def __gt__(self, other):
        return self

    def __iter__(self):
        return iter(())


def test_main_prints_full_line_first_and_final_line_last(
        monkeypatch, tmp_path, capsys):
    """Runtime order check (r17 ADVICE item 3 asked for behavior, not
    source-text order): run bench.main against a faked Spark surface,
    capture its real stdout, and require exactly two lines — the full
    3-decimal renderer's line first and the bounded queries-bearing
    final renderer's line last, both over the same timings."""
    from pyspark.sql import functions as F

    from mktd6_flink_spark import session
    from mktd6_flink_spark.operators import cache
    from mktd6_flink_spark.plans import driver_queries as dq

    fake = _AnySpark()
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: fake)
    monkeypatch.setattr(cache, "release_twophase_caches", lambda: None)
    monkeypatch.setattr(F, "col", lambda name: fake)
    monkeypatch.setattr(F, "sum", lambda name: fake)
    monkeypatch.setattr(dq, "QUERIES",
                        {n: (lambda spark, sf_dir: fake)
                         for n in bench.HEADLINE})
    monkeypatch.setattr(bench, "streaming_floor", lambda spark, d: fake)
    monkeypatch.setattr(bench, "REPEATS", 2)
    # BENCH_DETAIL.json lands next to bench.__file__
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    assert bench.main() == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 2
    full = json.loads(lines[0])
    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert set(full["queries"]) == set(bench.HEADLINE)
    assert lines[0] == bench.render_full_line(
        full["value"], full["sf"], full["floor_sec"], full["queries"])
    assert lines[1] == bench.render_final_line(
        full["value"], full["sf"], full["floor_sec"], full["queries"],
        detail["subtotals_min"])
    assert len(lines[1]) <= bench._FINAL_LINE_MAX
    assert set(json.loads(lines[1])["queries"]) == set(bench.HEADLINE)
