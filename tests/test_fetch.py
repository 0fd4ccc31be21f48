"""Record/replay harness for the registry fetch path: the
retry/backoff/token-bucket engine (fetch.ThrottledFetcher) executes against
canned transcripts covering all four outcome families — 200, 404,
5xx-then-success, connection-error — with no network. Timing behavior is
unit-tested with a fake clock; the npmregistry source's replay mode runs
end-to-end."""

from __future__ import annotations

import json
import os

from akkastreamprocessnpmpackagedependencies_spark import fetch
from akkastreamprocessnpmpackagedependencies_spark.sources.registry import register


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0
        self.sleeps: list[float] = []

    def clock(self) -> float:
        return self.t

    def sleep(self, d: float) -> None:
        self.sleeps.append(round(d, 9))
        self.t += d


def _fetcher(transport, **kw):
    fc = FakeClock()
    f = fetch.ThrottledFetcher(transport, sleep=fc.sleep, clock=fc.clock, **kw)
    return f, fc


def test_backoff_and_token_bucket_timing():
    """5xx and connection errors back off 2^attempt seconds; successive
    requests are spaced by the token-bucket interval (1/rate)."""
    t = fetch.ReplayTransport({"pkg": ["error", 503, [200, "BODY"]]})
    f, fc = _fetcher(t, rate_per_sec=0.5, max_retries=3)
    assert f("pkg") == (200, "BODY")
    # attempt 0 admits free, errors, backs off 1s; attempt 1 waits 1s more
    # to honor the 2s token interval, gets 503, backs off 2s; attempt 2
    # admits free (interval already elapsed) and succeeds
    assert fc.sleeps == [1.0, 1.0, 2.0]
    # next request immediately after: pure token-bucket wait of 2s
    assert f("pkg") == (200, "BODY")
    assert fc.sleeps[3:] == [2.0]


def test_404_returns_immediately_without_retry():
    calls = []

    def transport(name):
        calls.append(name)
        return (404, "not found body")

    f, fc = _fetcher(transport, rate_per_sec=0, max_retries=3)
    assert f("gone") == (404, None)  # non-200 body nulled, no retry
    assert calls == ["gone"]
    assert fc.sleeps == []


def test_connection_errors_exhaust_to_status_zero():
    t = fetch.ReplayTransport({"dead": ["error"]})
    f, fc = _fetcher(t, rate_per_sec=0, max_retries=3)
    assert f("dead") == (0, None)
    assert fc.sleeps == [1.0, 2.0, 4.0]  # full backoff ladder, then give up


def test_429_backs_off_and_recovers():
    """A rate-limited response is transient, not terminal: the fetcher
    backs off 2^attempt and the eventual 200 body survives."""
    t = fetch.ReplayTransport({"busy": [429, 429, [200, "OK"]]})
    f, fc = _fetcher(t, rate_per_sec=0, max_retries=3)
    assert f("busy") == (200, "OK")
    assert fc.sleeps == [1.0, 2.0]


def test_429_exhausts_to_last_status():
    t = fetch.ReplayTransport({"swamped": [429]})
    f, fc = _fetcher(t, rate_per_sec=0, max_retries=2)
    assert f("swamped") == (429, None)
    assert fc.sleeps == [1.0, 2.0]


def test_5xx_exhausts_to_last_status():
    t = fetch.ReplayTransport({"down": [500]})
    f, fc = _fetcher(t, rate_per_sec=0, max_retries=2)
    assert f("down") == (500, None)  # final attempt returns the 5xx itself
    assert fc.sleeps == [1.0, 2.0]


def _replay(spark, tmp_path, transcript: dict, names: list[str], **options):
    """The npmregistry batch reader in replay mode over ``names``."""
    pkgs = tmp_path / "packages.txt"
    pkgs.write_text("".join(f"{n}\n" for n in names))
    tpath = tmp_path / "transcript.json"
    tpath.write_text(json.dumps(transcript))
    register(spark)
    reader = (
        spark.read.format("npmregistry")
        .option("mode", "replay")
        .option("packages_path", str(pkgs))
        .option("transcript_path", str(tpath))
        .option("rate_per_sec", "0")
    )
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.load()


def test_registry_reader_replays_every_outcome_family(spark, tmp_path):
    """The batch reader's fetch path end-to-end on a canned transcript:
    every outcome family in one read, spread over two partitions. This is
    the code a live run executes; only the transport differs."""
    doc_ok = json.dumps({"versions": {"1.0.0": {"dependencies": {"a": "1"}}}})
    doc_flaky = json.dumps({"versions": {"2.0.0": {}}})
    transcript = {
        "ok": [[200, doc_ok]],
        "flaky": [503, 503, [200, doc_flaky]],
        "dead": ["error"],
        # "missing" absent from the transcript -> 404
    }
    df = _replay(spark, tmp_path, transcript, ["ok", "missing", "flaky", "dead"], max_retries="2", numpartitions="2")
    rows = {r.name: (r.status_code, r.doc) for r in df.collect()}
    assert rows["ok"] == (200, doc_ok)
    assert rows["missing"] == (404, None)
    assert rows["flaky"] == (200, doc_flaky)  # survived two 503s
    assert rows["dead"] == (0, None)  # connection errors exhausted


def test_registry_source_replay_mode(spark, tmp_path):
    """The npmregistry source's replay mode drives the same fetcher engine
    from a transcript file — the source-side live path, hermetic."""
    transcript = {
        "alpha": [[200, '{"versions": {}}']],
        "beta": [502, [200, '{"versions": {}}']],
        # gamma absent -> 404
    }
    df = _replay(spark, tmp_path, transcript, ["alpha", "beta", "gamma"], max_retries="2", numpartitions="1")
    assert {r.name: r.status_code for r in df.collect()} == {"alpha": 200, "beta": 200, "gamma": 404}


def test_replay_mode_survives_gzip_package_list(spark, tmp_path):
    """packages.txt.gz (the reference's input format, Main.scala:20-24)
    feeds the replay source identically."""
    import gzip

    gz = tmp_path / "packages.txt.gz"
    with gzip.open(gz, "wt") as f:
        f.write("only\n")
    tpath = tmp_path / "t.json"
    tpath.write_text(json.dumps({"only": [[200, "{}"]]}))
    register(spark)
    rows = (
        spark.read.format("npmregistry")
        .option("mode", "replay")
        .option("packages_path", str(gz))
        .option("transcript_path", str(tpath))
        .option("rate_per_sec", "0")
        .option("numpartitions", "1")
        .load()
        .collect()
    )
    assert [(r.name, r.status_code) for r in rows] == [("only", 200)]


def test_fetch_then_parse_pipeline_from_replay(spark, tmp_path):
    """Replayed fetches feed the downstream parse/count operators the same
    way fixture docs do — transports are interchangeable above the fetch
    boundary."""
    from pyspark.sql import functions as F

    from akkastreamprocessnpmpackagedependencies_spark.operators import npm

    doc = json.dumps(
        {
            "versions": {
                "1.0.0": {"dependencies": {"x": "1", "y": "2"}, "devDependencies": {"z": "3"}},
                "1.1.0": {"dependencies": {"x": "1"}},
            }
        }
    )
    fetched = _replay(spark, tmp_path, {"lib": [[200, doc]]}, ["lib"])
    out = npm.report(
        npm.accumulate_counts(
            npm.count_dependencies(
                npm.explode_versions(
                    npm.parse_registry(fetched.filter(F.col("status_code") == 200))
                )
            )
        )
    ).collect()
    assert [(r[0], r[1], r[2], r[3]) for r in out] == [
        ("lib", "1.0.0", 2, 1),
        ("lib", "1.1.0", 1, 0),
    ]


def test_batch_reader_fetches_only_its_partition_slice(monkeypatch, tmp_path):
    """Review fix: in fetch modes each partition must fetch ITS stride of
    the package list, not the whole list (the old reader fetched the full
    throttled universe N times and discarded (N-1)/N of it)."""
    from akkastreamprocessnpmpackagedependencies_spark.sources import registry as reg

    calls, rates = [], []

    def spy(options, names_override=None, transcript=None, **fetch):
        calls.append(names_override)
        rates.append(fetch["rate_per_sec"])
        return [(n, 200, "{}") for n in (names_override or [])]

    monkeypatch.setattr(reg, "_load_docs", spy)
    p = tmp_path / "pkgs.txt"
    p.write_text("".join(f"p{i}\n" for i in range(7)))
    r = reg.NpmRegistryBatchReader(
        {
            "mode": "replay",
            "packages_path": str(p),
            "transcript_path": "unused",
            "numpartitions": "3",
        }
    )
    outs = [list(r.read(reg.InputPartition(i))) for i in range(3)]
    got = sorted(n for part in outs for (n, _, _) in part)
    assert got == sorted(f"p{i}" for i in range(7))
    # every fetch was slice-restricted, slices partition the universe
    assert all(ov is not None for ov in calls)
    assert sorted(len(ov) for ov in calls) == [2, 2, 3]
    # the 3 partitions split the default 0.33 req/s budget evenly
    assert rates == [0.33 / 3] * 3


def test_registry_readers_reject_bad_options():
    """Bad ``npmregistry`` options raise ValueError when a reader is built,
    instead of emitting no rows (``rate=0``, ``numpartitions=0``) or
    walking offsets backwards past the end (``rate=-3``)."""
    import pytest

    from akkastreamprocessnpmpackagedependencies_spark.sources.registry import (
        NpmRegistryBatchReader,
        NpmRegistryStreamReader,
    )

    bad = [
        (NpmRegistryStreamReader, {"rate": "0"}),
        (NpmRegistryStreamReader, {"rate": "-3"}),
        (NpmRegistryStreamReader, {"rate": "2.5"}),
        (NpmRegistryStreamReader, {"rate": ""}),
        (NpmRegistryBatchReader, {"numpartitions": "0"}),
        (NpmRegistryBatchReader, {"numpartitions": "x"}),
    ]
    for reader in (NpmRegistryStreamReader, NpmRegistryBatchReader):
        bad += [
            (reader, {"max_retries": "-1"}),
            (reader, {"max_retries": "one"}),
            (reader, {"rate_per_sec": "-0.5"}),
            (reader, {"rate_per_sec": "fast"}),
            (reader, {"rate_per_sec": "nan"}),
        ]
        bad += [
            (reader, {"mode": "replya"}),
            (reader, {"mode": "live"}),
            (reader, {"mode": "replay", "transcript_path": "t.json"}),
        ]
    for reader, options in bad:
        with pytest.raises(ValueError, match=next(iter(options))):
            reader(options)
    # a replay reader without a transcript names the missing option
    for reader in (NpmRegistryStreamReader, NpmRegistryBatchReader):
        with pytest.raises(ValueError, match="transcript_path"):
            reader({"mode": "replay", "packages_path": "p.txt"})
    # the smallest valid values; rate_per_sec=0 means unthrottled
    assert NpmRegistryStreamReader({"rate": "1", "max_retries": "0", "rate_per_sec": "0"}).rate == 1
    assert NpmRegistryBatchReader({"numpartitions": "1", "rate_per_sec": "0"}).n_parts == 1
    assert NpmRegistryStreamReader({}).rate == 5
    assert NpmRegistryBatchReader({}).n_parts == 4


def _replay_reader(tmp_path, transcript: dict, names: list[str], **options):
    from akkastreamprocessnpmpackagedependencies_spark.sources.registry import NpmRegistryStreamReader

    pkgs = tmp_path / "packages.txt"
    pkgs.write_text("".join(f"{n}\n" for n in names))
    tpath = tmp_path / "transcript.json"
    tpath.write_text(json.dumps(transcript))
    opts = {
        "mode": "replay",
        "packages_path": str(pkgs),
        "transcript_path": str(tpath),
        "rate_per_sec": "0",
        "max_retries": "0",
        **options,
    }
    return NpmRegistryStreamReader(opts), opts


# "beta" answers 502 once, then 200: with no retries each fresh replay of
# its slice must observe the 502 again
_FLAKY = {
    "alpha": [[200, '{"versions": {}}']],
    "beta": [502, [200, '{"versions": {"1.0.0": {}}}']],
    "delta": ["error"],
    "epsilon": [[200, "{}"]],
}
_NAMES = ["epsilon", "alpha", "beta", "gamma", "delta"]


def test_replay_reader_parses_transcript_once(monkeypatch, tmp_path):
    """One parse of the transcript serves every ``read`` of a replay
    stream reader, and its rows equal a fresh parse per slice."""
    from akkastreamprocessnpmpackagedependencies_spark.sources import registry as reg

    reader, opts = _replay_reader(tmp_path, _FLAKY, _NAMES, rate="2")
    loads = []
    real_load = reg.json.load

    def spy(f):
        loads.append(f.name)
        return real_load(f)

    monkeypatch.setattr(reg.json, "load", spy)
    offset, slices = reader.initialOffset(), []
    while True:
        batch, nxt = reader.read(offset)
        rows = list(batch)
        if not rows:
            break
        slices.append((offset["index"], nxt["index"], rows))
        offset = nxt
    assert loads == [opts["transcript_path"]]
    assert [(lo, hi) for lo, hi, _ in slices] == [(0, 2), (2, 4), (4, 5)]
    names = sorted(_NAMES)
    for lo, hi, rows in slices:
        assert rows == reg._load_docs(opts, names_override=names[lo:hi], rate_per_sec=0, max_retries=0)
    assert [r[:2] for _, _, rows in slices for r in rows] == [
        ("alpha", 200), ("beta", 502), ("delta", 0), ("epsilon", 200), ("gamma", 404)
    ]


def test_replay_reader_rereads_a_slice_identically(tmp_path):
    """``readBetweenOffsets`` over a slice already read replays the same
    outcome sequence: "beta" fails with 502 again instead of seeing the
    200 a shared transport would have moved on to."""
    reader, _ = _replay_reader(tmp_path, _FLAKY, _NAMES, rate="5")
    first, end = reader.read(reader.initialOffset())
    first = list(first)
    again = list(reader.readBetweenOffsets({"index": 0}, end))
    assert again == first
    assert dict((n, c) for n, c, _ in again)["beta"] == 502


def test_empty_slice_touches_no_file():
    """An empty slice returns no rows without opening the package list or
    the transcript (neither path exists here)."""
    from akkastreamprocessnpmpackagedependencies_spark.sources.registry import NpmRegistryStreamReader

    reader = NpmRegistryStreamReader(
        {"mode": "replay", "packages_path": "/nonexistent/p.txt", "transcript_path": "/nonexistent/t.json"}
    )
    assert list(reader.readBetweenOffsets({"index": 3}, {"index": 3})) == []


def test_registry_source_imports_without_pandas():
    """The streaming registry source and the fetcher it imports load no
    pandas: Spark imports them in a fresh Python process per query, and
    pandas would be most of that import's time. Checked in a fresh
    interpreter, because this test session has pandas loaded already."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import akkastreamprocessnpmpackagedependencies_spark.sources.registry\n"
        "import akkastreamprocessnpmpackagedependencies_spark.fetch\n"
        "print('pandas' in sys.modules)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False", out.stderr
