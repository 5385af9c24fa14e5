"""``tools/perf_pairs``: the interleaved-pairs gain rule, the bound check
and per-side failure accounting, on hand-made run results (no Spark)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "perf_pairs", os.path.join(ROOT, "tools", "perf_pairs.py")
)
perf_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perf_pairs)

SPEC = [
    {"name": "throughput_per_s", "unit": "1/s", "better": "higher",
     "bound": 0.24},
    {"name": "latency_p50_ms", "unit": "ms", "better": "lower",
     "bound": 0.24},
]
NO_FAILS = {"parent": 0, "change": 0}


def _pairs(parent, change, name="throughput_per_s"):
    return [({name: p}, {name: c}) for p, c in zip(parent, change)]


def _row(pairs, name="throughput_per_s"):
    (row,) = [r for r in perf_pairs.summarize(pairs, SPEC, NO_FAILS)
              if r["metric"] == name]
    return row


def test_clear_gain_holds():
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]
    change = [150, 149, 151, 148, 152, 150, 150, 149, 151, 150]
    r = _row(_pairs(parent, change))
    assert r["wins"] == 10 and r["pairs"] == 10
    assert r["gain_holds"]
    assert not r["worse_than_bound"] and not r["unresolved"]
    assert r["parent"][1] == 100 and r["change"][1] == 150
    assert abs(r["ratio"] - 1.5) < 1e-9


def test_fewer_than_ten_pairs_is_no_claim():
    r = _row(_pairs([100] * 9, [150] * 9))
    assert r["wins"] == 9 and not r["gain_holds"]


def test_eight_of_ten_wins_is_no_claim():
    parent = [100] * 10
    change = [150] * 8 + [90, 90]
    r = _row(_pairs(parent, change))
    assert r["wins"] == 8 and not r["gain_holds"]


def test_ties_count_for_neither_side():
    r = _row(_pairs([100] * 10, [100] * 9 + [101]))
    assert r["wins"] == 1 and not r["gain_holds"]


def test_gap_must_exceed_parent_iqr():
    # the change wins every pair, but by less than the parent's own spread
    parent = [80, 120, 80, 120, 80, 120, 80, 120, 80, 120]
    change = [p + 1 for p in parent]
    r = _row(_pairs(parent, change))
    assert r["wins"] == 10 and not r["gain_holds"]


def test_lower_is_better_and_bound():
    name = "latency_p50_ms"
    better = _row(_pairs([100] * 10, [50] * 10, name), name)
    assert better["wins"] == 10 and better["gain_holds"]
    worse = _row(_pairs([100] * 10, [130] * 10, name), name)
    assert worse["wins"] == 0 and worse["worse_than_bound"]
    within = _row(_pairs([100] * 10, [120] * 10, name), name)
    assert not within["worse_than_bound"]


def test_wide_parent_spread_is_unresolved():
    parent = [50, 150, 50, 150, 50, 150, 50, 150, 50, 150]
    change = [100] * 10
    r = _row(_pairs(parent, change))
    assert r["unresolved"] and not r["worse_than_bound"]
    # ... unless every change run beats every parent run
    r = _row(_pairs(parent, [200] * 10))
    assert not r["unresolved"]


def test_more_failing_change_runs_void_the_gain():
    pairs = _pairs([100] * 10, [150] * 10)
    (r,) = perf_pairs.summarize(pairs, SPEC, {"parent": 1, "change": 1})
    assert r["gain_holds"]
    (r,) = perf_pairs.summarize(pairs, SPEC, {"parent": 0, "change": 1})
    assert r["wins"] == 10 and not r["gain_holds"]


def test_run_once_keeps_a_failing_runs_result():
    """A run that exits 1 after printing its result is kept (with its
    ``failed`` count); one that prints nothing raises."""
    res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    emit = f"print('progress'); print({json.dumps(res)!r}); raise SystemExit(1)"
    got = perf_pairs.run_once(".", [sys.executable, "-c", emit], "w", 7, 1)
    assert got == res
    with pytest.raises(RuntimeError, match="exited 1"):
        perf_pairs.run_once(".", [sys.executable, "-c", "raise SystemExit(1)"],
                            "w", 7, 1)


def test_missing_metric_is_skipped():
    rows = perf_pairs.summarize(_pairs([1, 2], [3, 4]), SPEC, NO_FAILS)
    assert [r["metric"] for r in rows] == ["throughput_per_s"]


def test_report_groups_logs_by_workload_and_seed(tmp_path, capsys):
    log = tmp_path / "runs.jsonl"
    with open(log, "w") as f:
        for seed in (7, 11):
            for i in range(3):
                for side, v in (("parent", 100 + i), ("change", 150 + i)):
                    f.write(json.dumps({
                        "workload": "w", "seed": seed, "pair": i,
                        "side": side,
                        "result": {"failed": 0, "metrics": {
                            "throughput_per_s": {"value": v, "unit": "1/s"}}},
                    }) + "\n")
        # an unpaired run is left out
        f.write(json.dumps({
            "workload": "w", "seed": 7, "pair": 3, "side": "parent",
            "result": {"failed": 1, "metrics": {
                "throughput_per_s": {"value": 1, "unit": "1/s"}}},
        }) + "\n")
    groups = perf_pairs._pairs_from_logs([str(log)])
    assert sorted(groups) == [("w", 7), ("w", 11)]
    pairs, failed = groups[("w", 7)]
    assert len(pairs) == 3 and failed == {"parent": 1, "change": 0}
    assert pairs[0] == ({"throughput_per_s": 100}, {"throughput_per_s": 150})
    assert groups[("w", 11)][1] == {"parent": 0, "change": 0}
    assert perf_pairs.main(["--report", str(log)]) == 0
    out = capsys.readouterr().out
    assert "w seed 7: 3 pairs, runs with failed > 0: parent 1, change 0" in out
    assert "w seed 11: 3 pairs" in out
    assert "throughput_per_s" in out


def _checkout(root, body="X = 1\n"):
    for d in ("postgresql_cdc_spark", "perfbench"):
        os.makedirs(root / d)
        (root / d / "mod.py").write_text(body)
    return str(root)


def _pyc_source_size(pyc: str) -> int:
    """The source size a timestamp ``.pyc`` header records (PEP 552)."""
    with open(pyc, "rb") as f:
        return int.from_bytes(f.read(16)[12:16], "little")


def test_precompile_writes_current_bytecode(tmp_path):
    """Both package directories get bytecode, and a stale ``.pyc`` (its
    source changed since) is rewritten."""
    import glob

    co = _checkout(tmp_path)
    perf_pairs.precompile(co, sys.executable)
    pycs = sorted(glob.glob(os.path.join(co, "*", "__pycache__", "mod.*.pyc")))
    assert [os.path.basename(os.path.dirname(os.path.dirname(p)))
            for p in pycs] == ["perfbench", "postgresql_cdc_spark"]
    src = os.path.join(co, "perfbench", "mod.py")
    with open(src, "w") as f:
        f.write("X = 22\n")  # the size changes even within one mtime tick
    perf_pairs.precompile(co, sys.executable)
    (pyc,) = glob.glob(os.path.join(co, "perfbench", "__pycache__", "*.pyc"))
    assert _pyc_source_size(pyc) == os.path.getsize(src) == 7


def test_precompile_raises_on_a_broken_source(tmp_path):
    co = _checkout(tmp_path, body="def (:\n")
    with pytest.raises(RuntimeError, match="compileall"):
        perf_pairs.precompile(co, sys.executable)


def test_main_precompiles_both_sides_before_the_first_run(
    tmp_path, monkeypatch, capsys
):
    calls = []
    monkeypatch.setattr(perf_pairs, "precompile",
                        lambda co, py: calls.append(("compile", co, py)))

    def run_once(co, command, workload, seed, seconds):
        calls.append(("run", co))
        return {"failed": 0, "metrics": {
            "latency_p50_ms": {"value": 1.0, "unit": "ms"}}}

    monkeypatch.setattr(perf_pairs, "run_once", run_once)
    parent, change = str(tmp_path / "p"), str(tmp_path / "c")
    assert perf_pairs.main(["--parent", parent, "--change", change,
                            "--workload", "w", "--seed", "7",
                            "--pairs", "1"]) == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        python = json.load(f)["command"][0]
    assert calls[:2] == [("compile", parent, python),
                         ("compile", change, python)]
    assert [c[0] for c in calls[2:]] == ["run", "run"]
