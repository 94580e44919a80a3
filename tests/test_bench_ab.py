"""``bench/ab.py``: its summary of paired runs, the runs it makes, and a
``--help`` that starts nothing. No Spark."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

SCRIPT = Path(__file__).resolve().parent.parent / "bench" / "ab.py"
sys.path.insert(0, str(SCRIPT.parent))
import ab  # noqa: E402


def _run(pair, side, failed=0, correct=None, seed=None, **metrics):
    return {"workload": "w", "pair": pair, "side": side,
            "seed": pair if seed is None else seed, "failed": failed,
            "correct": failed == 0 if correct is None else correct,
            "metrics": metrics}


def test_summary_quartiles_and_pairs_won():
    runs = []
    for i, (b, c) in enumerate([(10, 12), (11, 11), (12, 9), (13, 15),
                                (14, 16)]):
        runs += [_run(i, "base", t=b, s=1.0), _run(i, "change", t=c, s=0.5)]
    runs.append(_run(5, "base", t=99))  # its change run is missing
    # failed operations, and a gate failure without any: neither run
    # counts in a median or a pair
    runs += [_run(6, "base", failed=2, t=50),
             _run(6, "change", correct=False, t=1000, s=0.1)]
    rows = {r["metric"]: r for r in
            ab.summarize(runs, {"t": "higher", "s": "lower"})}
    t = rows["t"]
    # ties count for neither side; an unpaired run counts in no pair
    assert (t["pairs"], t["won"], t["lost"]) == (5, 3, 1)
    # a side's quartiles take all its correct runs, the unpaired 99 too,
    # by the method of perfbench/record.py
    assert t["base"] == (10.75, 12.5, 35.25)
    assert t["change"] == (10.0, 12.0, 15.5)
    assert (t["base_failed"], t["change_failed"]) == (2, 0)
    assert (t["base_incorrect"], t["change_incorrect"]) == (1, 1)
    assert (t["base_errors"], t["change_errors"]) == (0, 0)
    s = rows["s"]
    assert (s["pairs"], s["won"], s["lost"]) == (5, 5, 0)
    assert s["change"] == (0.5, 0.5, 0.5)


def test_summary_metric_without_direction_counts_no_pairs():
    runs = [_run(0, "base", x=1), _run(0, "change", x=2),
            _run(1, "change", failed=None, correct=False)]  # no result
    (row,) = ab.summarize(runs, {})
    assert (row["won"], row["lost"]) == (0, 0)
    assert row["base"] == (1, 1, 1)
    assert "w\tx\t1 [1, 1]\t2 [2, 2]\t0/0 of 1\t0,0,0|0,0,1" \
        in ab.format_rows([row])


def test_summary_pairs_by_seed_and_refuses_a_repeated_run():
    # two rounds of pair 0 on different seeds are two pairs
    runs = [_run(0, side, seed=seed, x=seed)
            for seed in (1, 2) for side in ab.SIDES]
    (row,) = ab.summarize(runs, {"x": "higher"})
    assert (row["pairs"], row["won"], row["lost"]) == (2, 0, 0)
    with pytest.raises(ValueError, match="two base runs of w in pair 0"):
        ab.summarize(runs + [_run(0, "base", seed=1, x=3)], {})


def test_runs_take_workloads_and_length_from_benchmark(tmp_path,
                                                       monkeypatch):
    calls = []

    def fake(checkout, workload, seed, seconds, trace):
        calls.append((checkout.name, workload, seed, seconds, trace))
        return {"failed": 0, "correct": True, "metrics": {"m": 1.0}}
    monkeypatch.setattr(ab, "run_one", fake)
    for side in ab.SIDES:
        (tmp_path / side).mkdir()
    out = tmp_path / "runs.jsonl"
    assert ab.main(["--base", str(tmp_path / "base"), "--change",
                    str(tmp_path / "change"), "--pairs", "2",
                    "--seed", "7", "--out", str(out)]) == 0
    spec = json.loads((SCRIPT.parent.parent / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    secs = spec["run_seconds"]
    # the side that runs first alternates by pair
    assert calls == [(side, w, 7 + i, secs, 0)
                     for i, order in enumerate((ab.SIDES, ab.SIDES[::-1]))
                     for w in names for side in order]
    assert len(ab.read_runs(out)) == len(calls)


def test_help_starts_nothing(tmp_path):
    proc = subprocess.run([sys.executable, str(SCRIPT), "--help"],
                          capture_output=True, text=True, timeout=60,
                          cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr
    for flag in ("--base", "--change", "--pairs", "--summary"):
        assert flag in proc.stdout
    assert list(tmp_path.iterdir()) == []
