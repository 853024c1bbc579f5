"""tools/ab.py without Spark: the verdict rule on recorded and synthetic
runs, and the run loop over two fake checkouts whose perfbench/run.py is
a stub."""

from __future__ import annotations

import importlib.util
import json
import sys
import textwrap
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("ab", ROOT / "tools" / "ab.py")
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_verdict_reproduces_recorded_holdback_set(capsys):
    assert ab.main(["--verdict", str(ROOT / "BENCH_AB_holdback.jsonl")]) == 0
    out = capsys.readouterr().out
    assert (
        "scd2_reorder events_per_s: 349.2 -> 361.2 (ratio 1.035, +3.5%), "
        "change won 6/10, parent IQR 9.3%" in out
    )
    assert (
        "backfill_drain events_per_s: 12,379.1 -> 12,291.6 (ratio 0.993, -0.7%), "
        "change won 10/16" in out
    )
    assert "backfill_drain trace=0: 16 complete pairs" in out
    assert "regression\n" not in out.replace("no regression\n", "")


def test_verdict_reproduces_recorded_pyworker_gain(capsys):
    ab.main(["--verdict", str(ROOT / "BENCH_AB_pyworker.jsonl")])
    out = capsys.readouterr().out
    assert (
        "scd2_reorder events_per_s: 256.9 -> 466.6 (ratio 1.816, +81.6%), "
        "change won 10/10, parent IQR 7.6% = 0.31 of bound 0.25: gain" in out
    )


def _pairs(shift: float, losses: int, spread: float = 1.0) -> list[tuple[float, float]]:
    """10 pairs around 100 with parent IQR ~``spread``% of the median;
    the change is ``shift`` higher except in ``losses`` pairs."""
    parent = [100 + spread * (i - 4.5) / 5 for i in range(10)]
    return [(p, p - 0.5 if i < losses else p + shift) for i, p in enumerate(parent)]


def test_nine_of_ten_wins_beyond_the_iqr_is_a_gain():
    j = ab.judge(_pairs(shift=3.0, losses=1), bound=0.25, higher=True)
    assert (j["wins"], j["verdict"]) == (9, "gain")
    assert j["iqr_share"] < 0.03 / 1.0


def test_eight_of_ten_wins_is_not_a_gain():
    j = ab.judge(_pairs(shift=3.0, losses=2), bound=0.25, higher=True)
    assert (j["wins"], j["verdict"]) == (8, "no regression")


def test_fewer_than_ten_pairs_is_not_a_gain():
    j = ab.judge(_pairs(shift=3.0, losses=0)[:9], bound=0.25, higher=True)
    assert (j["wins"], j["verdict"]) == (9, "no regression")


def test_a_shift_inside_the_iqr_is_not_a_gain():
    j = ab.judge(_pairs(shift=0.5, losses=0, spread=5.0), bound=0.25, higher=True)
    assert (j["wins"], j["verdict"]) == (10, "no regression")


def test_iqr_wider_than_the_bound_is_unresolved():
    j = ab.judge(_pairs(shift=0.0, losses=0, spread=60.0), bound=0.25, higher=True)
    assert j["iqr_share"] > 0.25
    assert j["verdict"] == "unresolved"


def test_wide_iqr_is_resolved_when_every_change_run_reads_better():
    parent = [100.0 + 10 * i for i in range(10)]  # IQR 45% of the median
    j = ab.judge([(p, 250.0 + p) for p in parent], bound=0.25, higher=True)
    assert (j["iqr_share"] > 0.25, j["verdict"]) == (True, "gain")


def test_worse_by_more_than_the_bound_is_a_regression_either_direction():
    assert ab.judge(_pairs(-40.0, 0), 0.25, higher=True)["verdict"] == "regression"
    # lower is better: +40 is worse
    assert ab.judge(_pairs(40.0, 0), 0.25, higher=False)["verdict"] == "regression"
    assert ab.judge(_pairs(-40.0, 0), 0.25, higher=False)["verdict"] == "gain"


def test_ties_count_for_neither_side():
    j = ab.judge([(5.0, 5.0)] * 10, bound=0.25, higher=True)
    assert (j["wins"], j["iqr_share"], j["verdict"]) == (0, 0.0, "no regression")


_STUB = textwrap.dedent(
    """
    import json, os, sys
    seed = int(sys.argv[sys.argv.index("--seed") + 1])
    side = os.path.basename(os.getcwd())
    with open(os.path.join(os.path.dirname(os.getcwd()), "order.txt"), "a") as fh:
        fh.write(f"{seed} {side} {os.environ.get('PYSPARK_SUBMIT_ARGS', '')}\\n")
    if side == "b" and seed == 12:
        print("Traceback: boom", file=sys.stderr)
        sys.exit(1)
    print(json.dumps({"workload": "w", "seed": seed, "validity": {"steal_share": 0.123}}))
    if side == "b" and seed == 13:
        print("not json")
        sys.exit(0)
    eps = 100.0 + seed + (5 if side == "b" else 0)
    failed = 3 if side == "b" and seed == 11 else 0
    print(json.dumps({"correct": failed == 0, "attempted": 10, "failed": failed,
                      "metrics": {"events_per_s": {"value": eps, "unit": "1/s"}}}))
    """
)


def test_run_loop_alternates_reads_steal_and_keeps_failed_runs(tmp_path, capsys):
    for side in ("a", "b"):
        (tmp_path / side / "perfbench").mkdir(parents=True)
        (tmp_path / side / "perfbench" / "run.py").write_text(_STUB)
    out = tmp_path / "ab.jsonl"
    rc = ab.main([
        "--a", str(tmp_path / "a"), "--b", str(tmp_path / "b"),
        "--b-conf", "spark.x.y=z w", "--work", "perfbench:w",
        "--pairs", "4", "--seed", "10", "--out", str(out),
    ])
    assert rc == 0
    order = [ln.split(" ", 2) for ln in (tmp_path / "order.txt").read_text().splitlines()]
    assert [(s, side) for s, side, _ in order] == [
        ("10", "a"), ("10", "b"), ("11", "b"), ("11", "a"),
        ("12", "a"), ("12", "b"), ("13", "b"), ("13", "a"),
    ]
    # confs reach side B only, through PYSPARK_SUBMIT_ARGS
    assert all(
        ("--conf 'spark.x.y=z w'" in conf) == (side == "b") for _, side, conf in order
    )

    header, *rows = [json.loads(ln) for ln in out.read_text().splitlines()]
    assert "what" in header and header["change"]["conf"] == ["spark.x.y=z w"]
    assert len(rows) == 8  # failed runs are recorded, not dropped
    assert [(r["seed"], r["side"], r["run_in_pair"]) for r in rows[:4]] == [
        (10, "parent", 1), (10, "change", 2), (11, "change", 1), (11, "parent", 2),
    ]
    assert {r["host_steal_pct"] for r in rows if r["validity"]} == {12.3}
    by = {(r["seed"], r["side"]): r for r in rows}
    crashed, malformed, wrong = by[12, "change"], by[13, "change"], by[11, "change"]
    assert crashed["rc"] == 1 and crashed["metrics"] == {} and "boom" in crashed["error"]
    assert malformed["rc"] == 0 and malformed["metrics"] == {} and "error" in malformed
    assert malformed["host_steal_pct"] == 12.3  # validity line still read
    assert (wrong["correct"], wrong["failed"], "error" in wrong) == (False, 3, True)

    printed = capsys.readouterr().out
    header_line = next(ln for ln in printed.splitlines() if ln.startswith("w trace=0"))
    assert header_line.startswith(
        "w trace=0: 1 complete pairs; failed runs parent 0/4, change 3/4; "
        "failed operations parent 0/40, change 3/20"
    )
    assert header_line.endswith(": regression")
    assert "w events_per_s: 110.0 -> 115.0" in printed
    # recomputing from the file gives the same verdict
    assert ab.verdict_lines(ab.read_rows([str(out)])) == [
        ln for ln in printed.splitlines() if ln.startswith(("w ", "  w "))
    ]


def _row(seed, side, eps, frac=1.0, **extra):
    metrics = {"events_per_s": eps, "committed_frac": {"value": frac, "unit": "ratio"}}
    return {"workload": "w", "seed": seed, "side": side, "rc": 0, "correct": True,
            "attempted": 100, "failed": 0, "metrics": metrics, **extra}


def test_declared_bounds_hold_and_cannot_be_overridden():
    rows = [r for i in range(10) for r in (_row(i, "parent", 100.0 + i),
                                           _row(i, "change", 100.0 + i, frac=0.98))]
    lines = ab.verdict_lines(rows)
    # committed_frac keeps BENCHMARK.json's 0.01: 2% fewer committed is a regression
    assert any("w committed_frac:" in ln and "of bound 0.01: regression" in ln for ln in lines)
    with pytest.raises(SystemExit):
        ab.main(["--verdict", "x.jsonl", "--bound", "1"])


def test_failed_operations_void_a_gain():
    rows = []
    for i in range(10):
        rows.append(_row(i, "parent", 100.0 + i))
        # a clear 10/10 gain in throughput, but some operations failed
        rows.append(_row(i, "change", 150.0 + i, correct=i != 3, failed=5 if i == 3 else 0))
    lines = ab.verdict_lines(rows)
    assert lines[0].startswith("w trace=0: 9 complete pairs; failed runs parent 0/10, change 1/10")
    assert "failed operations parent 0/1000, change 5/1000" in lines[0]
    assert lines[0].endswith(": regression")
    eps = next(ln for ln in lines if "w events_per_s:" in ln)
    assert "change won 9/9" in eps and eps.endswith(": no regression")
    assert not any(ln.endswith(": gain") for ln in lines)
    # the same runs without the failure are a gain
    for r in rows:
        r.update(correct=True, failed=0)
    assert any("w events_per_s:" in ln and ln.endswith(": gain") for ln in ab.verdict_lines(rows))


def test_row_child_times_the_control_first_and_keeps_the_cold_run(monkeypatch, capsys):
    calls = []
    secs = iter([5.0, 1.0, 2.0, 9.0, 3.0, 4.0])  # control x3, then the row x3

    def run_row(spark, sf, name):
        calls.append(name)
        return next(secs)

    class Spark:
        sparkContext = types.SimpleNamespace(setLogLevel=lambda level: None)

        def stop(self):
            pass

    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setitem(sys.modules, "bench", types.SimpleNamespace(run_row=run_row))
    monkeypatch.setitem(sys.modules, "rigatoni_spark", types.ModuleType("rigatoni_spark"))
    monkeypatch.setitem(
        sys.modules, "rigatoni_spark.session",
        types.SimpleNamespace(get_spark=lambda app_name: Spark()),
    )
    ab._child({"root": str(ROOT), "kind": "row", "arg": "r", "sf_dir": "sf", "control": "c"})
    assert calls == ["c"] * 3 + ["r"] * 3
    assert json.loads(capsys.readouterr().out)["metrics"] == {
        "control.c_cold_s": 5.0, "control.c_s": 1.0, "row.r_cold_s": 9.0, "row.r_s": 3.0,
    }


def test_a_run_needs_both_sides_and_a_kind():
    with pytest.raises(SystemExit):
        ab.main(["--a", ".", "--b", ".", "--out", "x.jsonl", "--work", "nope"])
