"""Tests of the benchmark's own code: the generator, the oracle and the
metric names it emits.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import gen
import harness
import pytest

BENCHMARK_JSON = os.path.join(harness.REPO, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _files(out_dir) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(out_dir.iterdir())}


def test_generator_is_deterministic(tmp_path):
    a = gen.write(gen.generate(7, 500), str(tmp_path / "a"))
    b = gen.write(gen.generate(7, 500), str(tmp_path / "b"))
    c = gen.write(gen.generate(8, 500), str(tmp_path / "c"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert (a.expected_batch, a.expected_docs, a.listed) == (b.expected_batch, b.expected_docs, b.listed)
    assert _files(tmp_path / "a") != _files(tmp_path / "c")


def test_generator_emits_every_doc_kind():
    universe = gen.generate(3, 4000)
    listed = set(universe.listed)
    docs = {name: (code, body) for name, code, body in universe.docs}
    bodies = [body for code, body in docs.values() if code == 200]
    assert any(code == 404 for code, _ in docs.values())
    assert any(body.endswith("{") for body in bodies)  # malformed JSON
    assert any('"versions"' not in body for body in bodies)
    assert any('"not-an-object"' in body for body in bodies)
    assert listed - set(docs), "a listed package without a doc"
    assert set(docs) - listed, "a doc for an unlisted package"
    full = [json.loads(b) for b in bodies if b.startswith('{"_id"')]
    versions = [len(doc["versions"]) for doc in full]
    assert max(versions) >= 50 and min(versions) == 1  # heavy tail
    # packuments carry the fields a parser has to skip, not only dependencies
    assert {"time", "readme", "dist-tags"} <= set(full[0])
    assert {"dist", "scripts", "maintainers"} <= set(next(iter(full[0]["versions"].values())))


def test_oracle_agrees_with_fixture_expected_counts():
    from akkastreamprocessnpmpackagedependencies_spark import fixtures

    docs = fixtures.registry_docs()
    assert gen.expected_counts(docs) == fixtures.expected_counts()
    assert gen.expected_counts(docs, fixtures.package_names()) == fixtures.expected_counts()


def test_transcript_replays_every_doc(tmp_path):
    from akkastreamprocessnpmpackagedependencies_spark.fetch import ReplayTransport, ThrottledFetcher

    universe = gen.generate(5, 300)
    fetch = ThrottledFetcher(ReplayTransport(gen.transcript(universe.docs)), rate_per_sec=0)
    for name, code, body in universe.docs:
        assert fetch(name) == (code, body if code == 200 else None)
    assert fetch("pkg-not-generated") == (404, None)


@pytest.fixture(scope="module")
def benchmark_json():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def _check(result: dict, declared: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


# Small universes so the whole benchmark path runs in a couple of minutes.
SMALL = {
    "batch": harness.Workload("batch_small", "batch", 400, mode="fixture", rate=200),
    "stream": harness.Workload("stream_small", "stream", 400, mode="replay", rate=200),
}


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_emitted_metrics_are_the_declared_ones(kind, benchmark_json, monkeypatch):
    import layers
    import run

    monkeypatch.setattr(harness, "SETUPS", 1)
    harness.prepare_environment()
    try:
        _check(run.end_to_end(SMALL[kind], 1, 0), benchmark_json["end_to_end"])
        _check(layers.run(SMALL[kind], 1, 0), benchmark_json["per_layer"])
    finally:
        harness.wait_children()
        harness.clean_work()
