"""Tests for the bench artifact plumbing: the bounded stdout line
(bench.py compact_line), the streaming reducers, the job-profile fold
(observability.job_profile) and the job/stage regression gate
(tools/bench_compare.py)."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from akkastreamprocessnpmpackagedependencies_spark.observability import job_profile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load("bench_mod", os.path.join(_ROOT, "bench.py"))
bc = _load("bench_compare", os.path.join(_ROOT, "tools", "bench_compare.py"))


def _many_queries(n: int) -> dict[str, float]:
    qs = {f"very_long_query_name_number_{i:03d}_for_width": 0.1 + i * 0.01
          for i in range(n)}
    qs["npm_dependency_counts"] = 0.33
    return qs


def test_compact_line_fits_capture_budget_and_keeps_flagship():
    """A 103-query suite overflows the driver's ~2000-char stdout capture
    (the rounds-5/6 parsed:null failure); the compact line must fit the
    budget, keep the flagship, point at the full artifact, and stay
    valid JSON with the true total + query count."""
    times = _many_queries(103)
    line, kept = bench.compact_line(times, total=82.5, sf=0.1)
    assert len(line) <= bench.LINE_BUDGET
    d = json.loads(line)
    assert "npm_dependency_counts" in d["queries"]
    assert d["n_queries"] == len(times)
    assert d["queries_full"] == "BENCH_FULL.json"
    assert d["value"] == 82.5
    assert 1 < kept < len(times)
    # the included non-flagship queries are the SLOWEST ones
    included = [q for q in d["queries"] if q != "npm_dependency_counts"]
    cutoff = min(times[q] for q in included)
    excluded_max = max(v for q, v in times.items() if q not in d["queries"])
    assert cutoff >= excluded_max


def test_compact_line_small_suite_includes_everything():
    times = {"npm_dependency_counts": 0.3, "q2": 1.0}
    line, kept = bench.compact_line(times, total=1.3, sf=0.01)
    assert kept == 2
    assert set(json.loads(line)["queries"]) == set(times)


def test_progress_stats_filters_idle_triggers():
    """bench.py's streaming-progress reducer: idle (0-row) triggers must
    not dilute rows/s or the latency spread; dict and .json-attr
    progress shapes both parse."""

    class _P:
        def __init__(self, payload):
            self.json = json.dumps(payload)

    progresses = [
        {"numInputRows": 100, "durationMs": {"triggerExecution": 50}},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},  # idle
        _P({"numInputRows": 300, "durationMs": {"triggerExecution": 150}}),
    ]

    class _Q:
        recentProgress = progresses

    rows, batches, durs = bench._progress_stats(_Q())
    assert (rows, batches) == (400, 2)
    assert durs == [50.0, 150.0]


def test_reduce_stream_passes_median_of_three():
    """Round 15 (r14 verdict #2): the streaming surface is median-of-
    STREAM_PASSES. The reducer keeps the REAL pass whose rows/s is the
    cross-pass median (internally consistent rows/batches/batch_ms, not
    a synthetic average) and annotates the [min, median, max] band."""
    mk = lambda rate, wall: {  # noqa: E731
        "rows": 6000, "wall_sec": wall, "rows_per_sec": rate,
        "batches": 3, "batch_ms": [10, 20, 30],
    }
    passes = [
        {"op_a": mk(10000, 0.6), "op_b": mk(500, 12.0)},
        {"op_a": mk(30000, 0.2), "op_b": mk(900, 6.7)},
        {"op_a": mk(20000, 0.3), "op_b": mk(700, 8.6)},
    ]
    out = bench.reduce_stream_passes(passes)
    assert out["op_a"]["rows_per_sec"] == 20000  # the middle pass
    assert out["op_a"]["wall_sec"] == 0.3        # ...kept whole
    assert out["op_a"]["rows_per_sec_band"] == [10000, 20000, 30000]
    assert out["op_a"]["passes"] == 3
    assert out["op_b"]["rows_per_sec"] == 700
    # an op missing from one pass (e.g. a skipped arm) still reduces
    passes[1].pop("op_b")
    out = bench.reduce_stream_passes(passes)
    assert out["op_b"]["passes"] == 2
    assert out["op_b"]["rows_per_sec_band"][0] == 500
    assert out["op_b"]["rows_per_sec_band"][-1] == 700


def test_job_profile_counts_the_broadcast_job(spark):
    """A broadcast join starts two jobs: the broadcast's collect, which
    runs under a job group of its own, and the join. Bracketing by job id
    counts both."""
    small = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    big = spark.range(0, 10_000, 1, 4).selectExpr("id % 100 AS k")
    joined = big.join(small.hint("broadcast"), "k")
    _, prof = job_profile(spark, lambda: joined.write.format("noop").mode("overwrite").save())
    assert prof["jobs"] == 2
    assert prof["stages"] == 2
    assert prof["shuffle_write_bytes"] == 0


def test_job_profile_counts_a_one_shuffle_aggregation(spark):
    """An aggregation over one shuffle runs two stages. Under AQE the map
    stage is its own job and the result job lists it again as skipped; the
    fold counts it once, with the shuffle bytes it wrote."""
    agg = spark.range(0, 10_000, 1, 4).selectExpr("id % 10 AS k").groupBy("k").count()
    out, prof = job_profile(spark, lambda: agg.collect())
    assert len(out) == 10
    assert prof["stages"] == 2
    assert prof["jobs"] == 2
    assert prof["tasks"] >= 5  # 4 map tasks and at least one reduce task
    assert prof["shuffle_write_bytes"] > 0


def _artifact(**profiles) -> dict:
    base = {
        "npm_dependency_counts": {"jobs": 6, "stages": 6, "shuffle_write_bytes": 1857},
        "pricing_summary": {"jobs": 2, "stages": 2, "shuffle_write_bytes": 4096},
    }
    return {"sf": 0.1, "cpus": 4, "shuffle_partitions": 4, "profiles": {**base, **profiles}}


def _gate(tmp_path, capsys, old: dict, new: dict) -> tuple[int, str]:
    paths = []
    for name, payload in (("old.json", old), ("new.json", new)):
        (tmp_path / name).write_text(json.dumps(payload))
        paths.append(str(tmp_path / name))
    code = bc.main(paths)
    return code, capsys.readouterr().out


def test_gate_passes_equal_artifacts(tmp_path, capsys):
    code, out = _gate(tmp_path, capsys, _artifact(), _artifact())
    assert code == 0
    assert "2 common queries, 0 failures" in out


@pytest.mark.parametrize("key", ["jobs", "stages"])
def test_gate_fails_one_more_job_or_stage(tmp_path, capsys, key):
    new = _artifact()
    new["profiles"]["npm_dependency_counts"][key] += 1
    code, out = _gate(tmp_path, capsys, _artifact(), new)
    assert code == 1
    assert f"FAIL npm_dependency_counts: {key} 6 -> 7" in out


def test_gate_fails_a_vanished_query(tmp_path, capsys):
    new = _artifact()
    del new["profiles"]["pricing_summary"]
    code, out = _gate(tmp_path, capsys, _artifact(), new)
    assert code == 1
    assert "FAIL pricing_summary: missing from NEW" in out


@pytest.mark.parametrize("key, value", [("cpus", 8), ("shuffle_partitions", 8), ("sf", 0.01)])
def test_gate_fails_other_settings(tmp_path, capsys, key, value):
    """Counts compare only at equal scale factor, cpus and shuffle
    partitions."""
    new = _artifact()
    before, new[key] = new[key], value
    code, out = _gate(tmp_path, capsys, _artifact(), new)
    assert code == 1
    assert f"FAIL {key} differs: {before} -> {value}" in out


def test_gate_passes_fewer_jobs_and_new_queries(tmp_path, capsys):
    new = _artifact(new_query={"jobs": 9, "stages": 9, "shuffle_write_bytes": 0})
    new["profiles"]["npm_dependency_counts"]["jobs"] = 5
    code, out = _gate(tmp_path, capsys, _artifact(), new)
    assert code == 0
    assert "npm_dependency_counts: jobs 6 -> 5" in out
    assert "new_query: new query" in out


def test_gate_fails_an_artifact_without_profiles(tmp_path, capsys):
    old = {"sf": 0.1, "cpus": 4, "shuffle_partitions": 4, "queries": {"pricing_summary": 1.0}}
    code, out = _gate(tmp_path, capsys, old, _artifact())
    assert code == 1
    assert "FAIL OLD artifact carries no query profiles" in out


def test_reduce_profiles_keeps_the_largest_counts(capsys):
    """A query whose passes disagree is gated on its largest counts and
    named on stderr."""
    passes = [
        {"jobs": 23, "stages": 23, "tasks": 50, "shuffle_write_bytes": 100},
        {"jobs": 24, "stages": 24, "tasks": 51, "shuffle_write_bytes": 300},
        {"jobs": 23, "stages": 23, "tasks": 50, "shuffle_write_bytes": 200},
    ]
    assert bench.reduce_profiles("q", passes) == {"jobs": 24, "stages": 24, "shuffle_write_bytes": 200}
    assert "q jobs/stages differ across passes" in capsys.readouterr().err
    assert bench.reduce_profiles("q", passes[:1]) == {"jobs": 23, "stages": 23, "shuffle_write_bytes": 100}
    assert capsys.readouterr().err == ""
