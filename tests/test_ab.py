"""Unit tests for the interleaved A/B runner (tools/ab.py): the gain rule
at its edges, failed runs, differing results, and one end-to-end run
over two temporary checkouts with a stub arm. No SparkSession needed."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(_ROOT, "tools", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

# median 10, quartiles 8.5 and 11.5 (statistics.quantiles, exclusive): IQR 3
PARENT = [8.0, 9.0, 10.0, 11.0, 12.0]
SPEC = {"wall_s": ("lower", 0.25), "rate": ("higher", None)}


def _record(value, metric="wall_s", result=None, failed=0):
    rec = {"correct": not failed, "attempted": 1, "failed": failed,
           "metrics": {metric: {"value": value, "unit": "s"}}}
    if result is not None:
        rec["result"] = result
    return rec


def _runs(parent_vals, change_vals, metric="wall_s"):
    runs = []
    for i, (p, c) in enumerate(zip(parent_vals, change_vals)):
        runs.append({"pair": i, "side": "parent", "record": _record(p, metric)})
        runs.append({"pair": i, "side": "change", "record": _record(c, metric)})
    return runs


def test_gain_needs_nine_wins_of_ten():
    parent = [10.0] * 10
    nine = [5.0] * 9 + [11.0]
    eight = [5.0] * 8 + [11.0, 11.0]
    assert ab.summarize(_runs(parent, nine), SPEC)["metrics"]["wall_s"]["verdict"] == "gain"
    row = ab.summarize(_runs(parent, eight), SPEC)["metrics"]["wall_s"]
    assert (row["wins"], row["verdict"]) == (8, "none")


def test_ties_count_for_neither_side():
    parent = [10.0] * 10
    nine_one_tie = [5.0] * 9 + [10.0]
    eight_two_ties = [5.0] * 8 + [10.0, 10.0]
    row = ab.summarize(_runs(parent, nine_one_tie), SPEC)["metrics"]["wall_s"]
    assert (row["wins"], row["ties"], row["verdict"]) == (9, 1, "gain")
    row = ab.summarize(_runs(parent, eight_two_ties), SPEC)["metrics"]["wall_s"]
    assert (row["wins"], row["ties"], row["verdict"]) == (8, 2, "none")


def test_median_gap_must_exceed_parent_iqr():
    assert ab.quartiles(PARENT) == (8.5, 10.0, 11.5)
    assert ab.verdict(PARENT, [7.0] * 5, 10, 10, "lower", 0.25) == "none"  # gap == IQR
    assert ab.verdict(PARENT, [6.99] * 5, 10, 10, "lower", 0.25) == "gain"
    # fewer than ten pairs never show a gain, however clear
    assert ab.verdict(PARENT, [1.0] * 5, 9, 9, "lower", 0.25) == "none"


def test_higher_is_better_and_regression_bound():
    assert ab.verdict(PARENT, [13.01] * 5, 10, 10, "higher", None) == "gain"
    assert ab.verdict(PARENT, [6.99] * 5, 0, 10, "higher", None) == "none"  # no bound, no regression
    # lower is better, bound 0.25 of the parent median 10
    assert ab.verdict(PARENT, [12.4] * 5, 0, 10, "lower", 0.25) == "none"
    assert ab.verdict(PARENT, [12.6] * 5, 0, 10, "lower", 0.25) == "regression"
    # a gain does not count when more operations failed than at the parent
    assert ab.verdict(PARENT, [1.0] * 5, 10, 10, "lower", 0.25, more_failures=True) == "none"


def test_metric_without_direction_gets_no_verdict():
    row = ab.summarize(_runs([1.0, 2.0], [0.5, 0.5], metric="gate.wall_s"), SPEC)["metrics"]["gate.wall_s"]
    assert row["verdict"] is None
    assert row["change"] == (0.5, 0.5, 0.5)


def test_failed_runs_are_reported_not_dropped(tmp_path):
    crash = ab.run_arm([sys.executable, "-c", "import sys; sys.exit(3)"], str(tmp_path), 1)
    silent = ab.run_arm([sys.executable, "-c", "print('no json here')"], str(tmp_path), 1)
    assert (crash["record"], crash["error"]) == (None, "exit 3")
    assert (silent["record"], silent["error"]) == (None, "no JSON line on stdout")
    runs = _runs([10.0] * 10, [5.0] * 10)
    runs[1] = {"pair": 0, "side": "change", **crash}
    summary = ab.summarize(runs, SPEC)
    assert summary["pairs"] == 10
    assert summary["bad_pairs"] == [(0, "failed run: change")]
    assert summary["metrics"]["wall_s"]["wins"] == 9
    assert "pair 0: failed run: change" in ab.report(summary)


def test_differing_result_fails_the_pair():
    runs = _runs([10.0] * 10, [5.0] * 10)
    for r in runs:
        r["record"]["result"] = {"rows": 7}
    runs[3]["record"]["result"] = {"rows": 8}  # pair 1, change side
    summary = ab.summarize(runs, SPEC)
    assert summary["bad_pairs"] == [(1, "result differs")]
    assert summary["metrics"]["wall_s"]["wins"] == 9


ARM = (
    "import json, os\n"
    "v = float(open('value.txt').read())\n"
    "print('progress line')\n"
    "print(json.dumps({'correct': True, 'attempted': 1, 'failed': 0,\n"
    "    'metrics': {'wall_s': {'value': v, 'unit': 's'}},\n"
    "    'result': {'seed': {seed}, 'cwd_is_repo': os.getcwd() == os.path.realpath('{repo}')}}))\n"
)


def test_end_to_end_over_two_checkouts(tmp_path, capsys):
    parent, change = tmp_path / "parent", tmp_path / "change"
    for d, v in ((parent, "2.0"), (change, "1.0")):
        d.mkdir()
        (d / "value.txt").write_text(v)
    out = tmp_path / "runs.jsonl"
    rc = ab.main(["--parent", str(parent), "--change", str(change), "--pairs", "10", "--seed", "41",
                  "--out", str(out), "--", sys.executable, "-c", ARM])
    assert rc == 0
    runs = [json.loads(line) for line in out.read_text().splitlines()]
    assert len(runs) == 20
    # sides alternate which goes first; both sides of a pair share its seed
    assert [r["side"] for r in runs[:4]] == ["parent", "change", "change", "parent"]
    assert {r["record"]["result"]["seed"] for r in runs if r["pair"] == 9} == {50}
    # each run has its checkout as working directory and in ``{repo}``
    assert all(r["record"]["result"]["cwd_is_repo"] for r in runs)
    summary = ab.summarize(runs, ab.metric_spec())
    assert summary["metrics"]["wall_s"]["wins"] == 10
    assert summary["metrics"]["wall_s"]["verdict"] == "gain"
    assert "gain" in capsys.readouterr().out
