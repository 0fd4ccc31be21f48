"""Streaming engine tests: custom registry source (batch + stream + replay),
streaming flagship == batch flagship, event-time windows with watermarks,
dedup-within-watermark, custom stateful operator, checkpoint restart."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from akkastreamprocessnpmpackagedependencies_spark import fixtures
from akkastreamprocessnpmpackagedependencies_spark.operators import npm
from akkastreamprocessnpmpackagedependencies_spark.sources.registry import (
    NpmRegistryStreamReader,
    register,
)
from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp


def _drain(query):
    query.processAllAvailable()
    query.stop()


# ---------------------------------------------------------------- source


def test_registry_batch_source(spark, fixtures_dir):
    register(spark)
    df = (
        spark.read.format("npmregistry")
        .option("docs_path", os.path.join(fixtures_dir, "npm_registry_docs.parquet"))
        .load()
    )
    rows = df.collect()
    assert len(rows) == len(fixtures.registry_docs())
    assert {r.name for r in rows} == {n for n, _, _ in fixtures.registry_docs()}


def test_stream_reader_rate_and_replay():
    r = NpmRegistryStreamReader({"rate": "3"})
    total = len(fixtures.registry_docs())
    off = r.initialOffset()
    seen = []
    while True:
        it, nxt = r.read(off)
        batch = list(it)
        assert len(batch) <= 3  # rate cap per micro-batch
        if not batch:
            assert nxt == off
            break
        seen.extend(batch)
        # replay of the committed slice is exact (checkpoint recovery)
        assert list(r.readBetweenOffsets(off, nxt)) == batch
        off = nxt
    assert len(seen) == total


def test_streaming_flagship_matches_batch(spark, fixtures_dir, tmp_path):
    stream = sp.read_registry_stream(
        spark, rate=4, docs_path=os.path.join(fixtures_dir, "npm_registry_docs.parquet")
    )
    q = sp.run_to_memory(
        sp.streaming_dependency_counts(stream),
        "npm_stream",
        "complete",
        checkpoint=str(tmp_path / "ck"),
    )
    _drain(q)
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM npm_stream").collect())
    assert got == fixtures.expected_counts()


def test_registry_reader_fixture_mode_feeds_npm_operators(spark, tmp_path):
    """The batch reader in fixture mode, restricted to the fixture package
    list, feeds the npm operators to the flagship's expected counts."""
    pkgs = tmp_path / "packages.txt"
    pkgs.write_text("".join(f"{n}\n" for n in fixtures.package_names()))
    register(spark)
    docs = spark.read.format("npmregistry").option("packages_path", str(pkgs)).load()
    out = npm.report(
        npm.accumulate_counts(
            npm.count_dependencies(
                npm.explode_versions(
                    npm.parse_registry(docs.filter(F.col("status_code") == 200))
                )
            )
        )
    )
    assert sorted(tuple(r) for r in out.collect()) == fixtures.expected_counts()


# ------------------------------------------------------------ event time


def _write_time_sliced(df, src: str, n_files: int = 4) -> None:
    """Write df as n time-ordered files with strictly increasing mtimes —
    the file stream source orders batches by modification time, so this
    makes arrival order == event-time order (watermarks advance cleanly)."""
    import time as _time

    from pyspark.sql.window import Window as W

    tiled = df.withColumn("_tile", F.ntile(n_files).over(W.orderBy("ts")))
    for i in range(1, n_files + 1):
        (
            tiled.filter(F.col("_tile") == i)
            .drop("_tile")
            .withColumn("ts", F.unix_micros("ts") * 1000)  # back to raw ns longs
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(0.05)


def _events_stream(spark, sf_dir, tmp_path, n_files=4):
    """Split events into time-ordered files so multiple micro-batches
    advance the watermark."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    src = str(tmp_path / "events_src")
    _write_time_sliced(load_events(spark, sf_dir), src, n_files)
    return sp.read_events_stream(spark, src, max_files=1)


def test_tumbling_watermark_append(spark, sf_dir, tmp_path):
    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.tumbling_counts(ev), "tumbling_out", "append")
    _drain(q)
    emitted = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    assert emitted, "watermark never finalized any window"
    # every emitted window must agree exactly with the batch computation
    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        events_tumbling_1h,
    )

    batch = {
        (r.window_start, r.event_type): r.n for r in events_tumbling_1h(spark, sf_dir).collect()
    }
    for k, n in emitted.items():
        assert batch[k] == n


def test_session_window_update(spark, sf_dir, tmp_path):
    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.session_counts(ev), "session_out", "append")
    _drain(q)
    rows = spark.sql("SELECT * FROM session_out").collect()
    assert rows
    assert all(r.session_end > r.session_start for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_sessionize_with_expiry_matches_batch(spark, sf_dir, tmp_path):
    """Timeout-driven sessionization: closed sessions emit on gap
    detection, open sessions emit when the watermark passes last_ts + gap
    (event-time timeout), state is removed on expiry. The full emitted set
    must equal batch events_sessionize."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        events_sessionize,
    )
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    src = str(tmp_path / "sess_src")
    base = load_events(spark, sf_dir)
    _write_time_sliced(base, src, 4)
    ev = sp.read_events_stream(spark, src, max_files=1)
    q = sp.run_to_memory(
        sp.sessionize_with_expiry(ev),
        "sess_out",
        "append",
        checkpoint=str(tmp_path / "sess_ck"),
    )
    q.processAllAvailable()
    # Two far-future dummy batches: the first advances the watermark past
    # every open session's timeout (watermarks update at end-of-batch), the
    # second fires the timeouts. Dummy rows use user_id -1 and are excluded
    # from the comparison.
    max_us = base.agg(F.max(F.unix_micros("ts"))).first()[0]
    for i in range(2):
        future_ns = (max_us + (40 + i) * 86_400 * 1_000_000) * 1000
        dummy = spark.range(1).select(
            F.lit(-1 - i).cast("long").alias("event_id"),
            F.lit(future_ns).cast("long").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("dummy").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        dummy.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)
        q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out WHERE user_id >= 0").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in events_sessionize(spark, sf_dir).collect()
    }
    assert got == want


def test_dedup_within_watermark(spark, sf_dir, tmp_path):
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    # duplicate every event, write interleaved, stream-dedup on event_id
    base = load_events(spark, sf_dir).orderBy("event_id").limit(500)
    src = str(tmp_path / "dup_src")
    _write_time_sliced(base.union(base), src)
    ev = sp.read_events_stream(spark, src, max_files=1)
    q = sp.run_to_memory(sp.dedup_within_watermark(ev), "dedup_out", "append")
    _drain(q)
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == 500


def test_stateful_user_counts(spark, sf_dir, tmp_path):
    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.stateful_user_counts(ev), "state_out", "update")
    _drain(q)
    # last emitted value per user == total batch count for that user
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    expected = {
        r.user_id: r.n
        for r in load_events(spark, sf_dir).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    final = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM state_out GROUP BY user_id"
        ).collect()
    }
    assert final == expected


def test_checkpoint_restart_no_reprocessing(spark, fixtures_dir, tmp_path):
    """Offsets persist in the checkpoint: a restarted query sees the
    committed position and replays NOTHING (the reference, by contrast,
    loses data permanently on any failure — NpmPackage.scala:9)."""
    ck = str(tmp_path / "ck2")
    out = str(tmp_path / "sink")
    docs = os.path.join(fixtures_dir, "npm_registry_docs.parquet")
    n_docs = len(fixtures.registry_docs())

    def start():
        stream = sp.read_registry_stream(spark, rate=4, docs_path=docs)
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )

    _drain(start())
    assert spark.read.parquet(out).count() == n_docs  # exactly once

    # restart from the same checkpoint: offsets committed, nothing replayed
    _drain(start())
    sunk = spark.read.parquet(out)
    assert sunk.count() == n_docs
    assert sunk.select("name").distinct().count() == n_docs


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Inner stream-stream join with a time-bound: the emitted match set
    must equal the batch join over the same data."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    ev = _events_stream(spark, sf_dir, tmp_path)
    joined = sp.purchases_with_recent_signup(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "signup"),
    )
    q = sp.run_to_memory(joined, "ss_join_out", "append", checkpoint=str(tmp_path / "ssck"))
    _drain(q)
    got = sorted(
        (r.purchase_id, r.user_id, r.purchase_ts, r.signup_ts)
        for r in spark.sql("SELECT * FROM ss_join_out").collect()
    )
    e = load_events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    want = sorted(
        (r.purchase_id, r.p_user, r.purchase_ts, r.signup_ts)
        for r in p.join(
            s,
            (F.col("p_user") == F.col("s_user"))
            & (F.col("signup_ts") <= F.col("purchase_ts"))
            & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    )
    assert len(want) > 0
    assert got == want


def test_streaming_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """File sink + checkpoint: draining the stream writes each event once;
    restarting the query against the same checkpoint re-writes nothing."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    src = str(tmp_path / "sink_src")
    _write_time_sliced(load_events(spark, sf_dir), src, 3)
    out, ck = str(tmp_path / "sink_out"), str(tmp_path / "sink_ck")

    def start():
        return (
            sp.read_events_stream(spark, src, max_files=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )

    q = start()
    _drain(q)
    n_events = load_events(spark, sf_dir).count()
    first = spark.read.parquet(out)
    assert first.count() == n_events
    assert first.select("event_id").distinct().count() == n_events
    # restart on the same checkpoint: nothing new to process, no duplicates
    q2 = start()
    _drain(q2)
    again = spark.read.parquet(out)
    assert again.count() == n_events


@pytest.mark.slow
def test_foreachbatch_dynamic_overwrite_idempotent(spark, sf_dir, tmp_path):
    """Replaying the stream from scratch into the same directory must not
    duplicate rows: each batch dynamically overwrites only the hour
    partitions it carries."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    src = str(tmp_path / "fb_src")
    _write_time_sliced(load_events(spark, sf_dir), src, 3)
    out = str(tmp_path / "fb_out")

    def run(ck: str):
        q = (
            sp.write_hourly_partitions(sp.read_events_stream(spark, src, max_files=1), out)
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        _drain(q)

    run("ck1")
    n_events = load_events(spark, sf_dir).count()
    assert spark.read.parquet(out).count() == n_events
    # fresh checkpoint -> full replay -> same partitions overwritten, no dupes
    run("ck2")
    back = spark.read.parquet(out)
    assert back.count() == n_events
    assert back.select("event_id").distinct().count() == n_events


def test_upsert_readback_prunes_partitions(spark, sf_dir, tmp_path):
    """The foreachBatch upsert's read-back must stay distributed (no
    driver-side hour collect) AND still prune partitions: the broadcast
    semi-join on event_hour has to plant a dynamic-partition-pruning
    subquery, otherwise it silently full-scans the table at scale."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    tagged = load_events(spark, sf_dir).withColumn(
        "event_hour", F.date_trunc("hour", "ts")
    )
    path = str(tmp_path / "pruned_tbl")
    tagged.write.partitionBy("event_hour").parquet(path)
    batch = tagged.filter(F.col("event_id") % 97 == 0).localCheckpoint()
    # default maxMetadataStringLength=100 truncates PartitionFilters at a
    # point that depends on attribute-id digit count (session-global,
    # monotonic) — widen it so the match is deterministic
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        got = sp.read_touched_hours(spark, path, batch)
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "dynamicpruningexpression(event_hour" in plan, plan
    # and the join is correct: only rows from the batch's hours come back
    hours = {r.event_hour for r in batch.select("event_hour").distinct().collect()}
    assert {r.event_hour for r in got.select("event_hour").distinct().collect()} == hours


def test_builtin_rate_source_feeds_windowed_agg(spark, tmp_path):
    """The built-in rate source (timestamped synthetic rows) drives the
    same windowed aggregation operators as the file/custom sources — the
    third source family (custom DataSource, files, rate)."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .withColumn("event_type", (F.col("value") % 3).cast("string"))
    )
    agg = (
        stream.withWatermark("timestamp", "1 second")
        .groupBy(F.window("timestamp", "1 second"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "rck"))
        .start()
    )
    import time as _t

    deadline = _t.time() + 30
    while _t.time() < deadline:
        if spark.sql("SELECT count(*) FROM rate_out").first()[0] > 0:
            break
        _t.sleep(0.5)
    q.stop()
    rows = spark.sql("SELECT * FROM rate_out").collect()
    assert len(rows) > 0
    assert all(r.n > 0 for r in rows)


def test_sliding_window_update_matches_batch(spark, sf_dir, tmp_path):
    """Streaming sliding windows (1h width, 30m hop) in update mode: final
    state equals the batch sliding aggregation."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        events_sliding_1h_30m,
    )

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.sliding_counts(ev), "sliding_out", "update")
    _drain(q)
    got = {}
    for r in spark.sql("SELECT * FROM sliding_out").collect():
        got[(r.window_start, r.event_type)] = r.n  # last update wins
    want = {
        (r.window_start, r.event_type): r.n
        for r in events_sliding_1h_30m(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_quality_gate_to_shard_export(spark, sf_dir, tmp_path):
    """End-to-end training-export composition on a stream: documents
    arrive in micro-batches, each batch runs the SAME quality gate as the
    batch query (quality_flags) and the keepers append into the
    deterministic shard layout (write_training_shards). The union of all
    shards must equal the batch-mode keep set exactly."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.quality import (
        quality_filter_composite,
        quality_flags,
    )
    from akkastreamprocessnpmpackagedependencies_spark.sources import io as sio

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    src = str(tmp_path / "docs_src")
    for half in (0, 1):
        d.filter((F.col("doc_id") % 2) == half).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "shards")

    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )

    def _export(batch, _bid):
        keep = quality_flags(batch).filter("keep").select("doc_id")
        sio.write_training_shards(
            batch.join(keep, "doc_id").select("doc_id", "text"),
            out,
            "doc_id",
            n_shards=4,
            mode="append",
        )

    q = stream.writeStream.foreachBatch(_export).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = sorted(r.doc_id for r in spark.read.parquet(out).select("doc_id").collect())
    want = sorted(
        r.doc_id for r in quality_filter_composite(spark, sf_dir).filter("keep").collect()
    )
    assert got == want


def test_sessionize_with_expiry_handles_late_in_watermark_events(spark, sf_dir, tmp_path):
    """Out-of-order regression (found by review): a late-but-in-watermark
    event must merge/bridge sessions exactly as batch does — the old
    open-session state glued it onto the wrong session and could emit
    end < start. Synthetic plan (gap = 30 min, watermark = 30 min):

    - user 10: batch 1 delivers t0 and t0+40m (two sessions if nothing
      arrives between); batch 2 delivers t0+20m — legal (watermark after
      batch 1 is t0+10m) — which BRIDGES them into one 3-event session.
    - user 20: batch 1 delivers t1; batch 2 delivers t1-24m, a late event
      that extends the session BACKWARDS (old code emitted end < start).
      24m (not 25m) keeps the event 1 minute INSIDE the watermark envelope:
      at exactly-the-watermark, drop-or-admit is implementation-defined
      and a Spark version bump could silently flake this test.
    """
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.operators.timeseries import (
        events_sessionize,
    )

    MIN = 60 * 1_000_000
    t0 = 1_700_000_000 * 1_000_000
    t1 = t0 + 35 * MIN  # keeps user 20 inside the same watermark envelope
    batch1 = [(10, t0), (10, t0 + 40 * MIN), (20, t1)]
    batch2 = [(10, t0 + 20 * MIN), (20, t1 - 24 * MIN)]
    hi_us = max(us for _, us in batch1 + batch2)

    def frame(rows):
        return spark.createDataFrame(
            [(i, us * 1000, uid, "click", 0.0, "{}") for i, (uid, us) in enumerate(rows)],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )

    src = str(tmp_path / "ooo_src")
    for part in (batch1, batch2):
        frame(part).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)
    ev = sp.read_events_stream(spark, src, max_files=1)
    q = sp.run_to_memory(
        sp.sessionize_with_expiry(ev), "ooo_out", "append",
        checkpoint=str(tmp_path / "ooo_ck"),
    )
    q.processAllAvailable()
    for i in range(2):
        future_ns = (hi_us + (40 + i) * 86_400 * 1_000_000) * 1000
        dummy = spark.range(1).select(
            F.lit(-1 - i).cast("long").alias("event_id"),
            F.lit(future_ns).cast("long").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("dummy").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        dummy.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.05)
        q.processAllAvailable()
    q.stop()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM ooo_out WHERE user_id >= 0").collect()
    }
    # batch sessionize over the SAME event set, via a table-shaped dir
    frame(batch1 + batch2).write.parquet(str(tmp_path / "tbl" / "events.parquet"))
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in events_sessionize(spark, str(tmp_path / "tbl")).collect()
    }
    assert got == want
    # every session well-formed, and the late event really bridged
    assert all(e >= s for _, s, e, _ in got)
    assert [n for uid, _, _, n in sorted(got) if uid == 10] == [3]


def test_streaming_dedup_gated_ingestion(spark, sf_dir, tmp_path):
    """Dedup-gated ingestion: documents stream in micro-batches; each
    batch is LSH-checked against the accepted corpus (whose parquet
    carries its signature columns) and within itself; only novel docs
    append. Invariants that hold for any arrival order:
    (1) accepted + rejected partition the input,
    (2) the accepted corpus is pairwise non-duplicate under the check,
    (3) every rejected doc had a concrete justification at drop time: a
        >=threshold partner that was accepted in an earlier batch, or a
        smaller-id partner in its own batch."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        N_HASHES,
        _band_frame,
        _signatures,
        _verify_jaccard,
    )
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "dg_src")
    for part in range(3):  # batch index = doc_id % 3 (maxFilesPerTrigger=1)
        d.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode("append").parquet(src)
    corpus = str(tmp_path / "dg_corpus")

    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src),
            corpus,
        )
        .option("checkpointLocation", str(tmp_path / "dg_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    accepted = spark.read.parquet(corpus)
    all_ids = {r.doc_id for r in d.select("doc_id").collect()}
    acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
    rej_ids = all_ids - acc_ids
    assert acc_ids <= all_ids and len(acc_ids) + len(rej_ids) == len(all_ids)
    assert len(rej_ids) > 0, "fixture has near-dups; something must be rejected"

    # (2) accepted set pairwise clean — rerun the check over stored sigs
    sig_acc = accepted.select("doc_id", "sh", *[f"mh{h}" for h in range(N_HASHES)])
    ab = _band_frame(sig_acc)
    acc_pairs = (
        ab.alias("x").join(ab.alias("y"), ["b", "bkey"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    assert _verify_jaccard(acc_pairs, sig_acc, sig_acc, "sh", JACCARD_THRESHOLD).count() == 0

    # (3) each rejection justified by the drop rule
    sig_all = _signatures(d)
    fb = _band_frame(sig_all)
    pairs = (
        fb.alias("x").join(fb.alias("y"), ["b", "bkey"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    matches = _verify_jaccard(pairs, sig_all, sig_all, "sh", JACCARD_THRESHOLD).collect()
    partners: dict[int, set[int]] = {}
    for r in matches:
        partners.setdefault(r.doc_a, set()).add(r.doc_b)
    for rej in rej_ids:
        ok = any(
            (p in acc_ids and p % 3 < rej % 3)  # accepted in an earlier batch
            or (p % 3 == rej % 3 and p < rej)   # smaller id, same batch
            for p in partners.get(rej, ())
        )
        assert ok, f"doc {rej} rejected without a qualifying partner"


def test_stream_static_dimension_enrichment(spark, sf_dir, tmp_path):
    """Stream-static broadcast join: streaming purchases enriched with a
    static per-user dimension must equal the batch left join, users
    absent from the dimension surface with null attributes, and the
    executed plan must broadcast the static side (the stream never
    shuffles for the join)."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    e = load_events(spark, sf_dir)
    # static dimension: each EVEN user's first signup ts — deliberately
    # partial so the left join's null path is exercised
    dim = (
        e.filter((F.col("event_type") == "signup") & (F.col("user_id") % 2 == 0))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup_ts"))
    )
    dim_path = str(tmp_path / "user_dim")
    dim.write.parquet(dim_path)
    static_dim = spark.read.parquet(dim_path)

    ev = _events_stream(spark, sf_dir, tmp_path)
    enriched = sp.enrich_with_dimension(
        ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
        static_dim,
    )
    q = sp.run_to_memory(enriched, "dim_join_out", "append", checkpoint=str(tmp_path / "dimck"))
    _drain(q)
    got = sorted(
        (r.event_id, r.user_id, r.first_signup_ts)
        for r in spark.sql("SELECT * FROM dim_join_out").collect()
    )
    want = sorted(
        (r.event_id, r.user_id, r.first_signup_ts)
        for r in e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .join(static_dim, "user_id", "left")
        .collect()
    )
    assert len(want) > 0
    assert got == want
    assert any(ts is None for _, _, ts in got)  # un-signed-up users survive
    # plan shape: the static side is broadcast, not shuffled
    plan = enriched._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan or "broadcast" in plan.lower()


def test_observed_metrics_batch_single_pass(spark, sf_dir):
    """Batch observe: the violation counters must equal an independent
    recount, delivered by the SAME action that consumed the frame (no
    second scan issued by the helper)."""
    from akkastreamprocessnpmpackagedependencies_spark.observability import (
        observed_quality,
    )
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    e = load_events(spark, sf_dir)
    df, obs = observed_quality(
        e,
        {
            "null_value": F.col("value").isNull(),
            "big_value": F.col("value") > 50,
            "error_rows": F.col("event_type") == "error",
        },
    )
    n = df.count()  # the one action; metrics ride this pass
    got = obs.get
    assert got["n_rows"] == n
    assert got["error_rows"] == e.filter(F.col("event_type") == "error").count()
    assert got["big_value"] == e.filter(F.col("value") > 50).count()
    assert got["null_value"] == e.filter(F.col("value").isNull()).count()


def test_observed_metrics_streaming_progress(spark, sf_dir, tmp_path):
    """Streaming observe: per-micro-batch metrics surface in the query's
    recentProgress observedMetrics, and their sum across batches equals
    the batch truth."""
    from akkastreamprocessnpmpackagedependencies_spark.observability import (
        observe_stream,
    )
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    ev = _events_stream(spark, sf_dir, tmp_path)
    metered = observe_stream(
        ev, "batch_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
    )
    q = sp.run_to_memory(metered, "obs_out", "append", checkpoint=str(tmp_path / "obsck"))
    _drain(q)
    rows = errors = 0
    for p in q.recentProgress:
        om = p["observedMetrics"].get("batch_metrics") if p.get("observedMetrics") else None
        if om:
            rows += om["n_rows"]
            errors += om["n_errors"]
    e = load_events(spark, sf_dir)
    assert rows == e.count()
    assert errors == e.filter(F.col("event_type") == "error").count()


def test_auditsink_stream_writer_per_epoch_manifests(spark, sf_dir, tmp_path):
    """Streaming custom sink: each micro-batch commits its own epoch
    manifest; the union of manifest parts must cover every part file on
    disk and their totals must equal the batch truth."""
    import glob
    import json
    import os as _os

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events
    from akkastreamprocessnpmpackagedependencies_spark.sources import audit

    audit.register(spark)
    ev = _events_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "audit_out")
    q = (
        ev.selectExpr("event_id", "user_id")
        .writeStream.format("auditsink")
        .option("path", out)
        .option("audit_col", "event_id")
        .option("checkpointLocation", str(tmp_path / "audit_ck"))
        .start()
    )
    _drain(q)
    manifests = sorted(glob.glob(out + "/_MANIFEST-*.json"))
    assert len(manifests) >= 2  # multiple micro-batches committed epochs
    total_rows = total_sum = 0
    listed = set()
    for mp in manifests:
        man = json.load(open(mp))
        total_rows += man["n_rows"]
        total_sum += man["checksum"]
        listed |= {p["file"] for p in man["parts"]}
    e = load_events(spark, sf_dir)
    assert total_rows == e.count()
    assert total_sum == e.selectExpr("sum(event_id)").first()[0]
    on_disk = {_os.path.basename(p) for p in glob.glob(out + "/part-*.jsonl")}
    assert listed == on_disk


def test_auditsink_stream_restart_writes_no_new_epochs(spark, sf_dir, tmp_path):
    """Restarting the audit-sink query against the same checkpoint after a
    full drain must not re-emit committed epochs: manifest set and part
    files are unchanged."""
    import glob

    from akkastreamprocessnpmpackagedependencies_spark.sources import audit

    audit.register(spark)
    src = str(tmp_path / "rs_src")
    _write_time_sliced(
        __import__(
            "akkastreamprocessnpmpackagedependencies_spark.session", fromlist=["load_events"]
        ).load_events(spark, sf_dir),
        src,
        3,
    )
    out, ck = str(tmp_path / "rs_out"), str(tmp_path / "rs_ck")

    def start():
        return (
            sp.read_events_stream(spark, src, max_files=1)
            .selectExpr("event_id", "user_id")
            .writeStream.format("auditsink")
            .option("path", out)
            .option("audit_col", "event_id")
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    _drain(q)
    manifests1 = sorted(glob.glob(out + "/_MANIFEST-*.json"))
    parts1 = sorted(glob.glob(out + "/part-*.jsonl"))
    q2 = start()
    _drain(q2)
    assert sorted(glob.glob(out + "/_MANIFEST-*.json")) == manifests1
    assert sorted(glob.glob(out + "/part-*.jsonl")) == parts1


def test_streaming_quality_gate_reports_observed_metrics(spark, sf_dir, tmp_path):
    """Production observability on a gated stream: per-micro-batch
    observed metrics (rows seen, rows failing the gate) must sum to the
    batch truth of the same quality rules."""
    from akkastreamprocessnpmpackagedependencies_spark.observability import observe_stream
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    ev = _events_stream(spark, sf_dir, tmp_path)
    bad = F.col("value").isNull() | (F.col("value") < 0) | (F.col("user_id").isNull())
    metered = observe_stream(
        ev, "gate",
        F.count(F.lit(1)).alias("n_seen"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_rejected"),
    ).filter(~bad)
    q = sp.run_to_memory(metered, "gated_out", "append", checkpoint=str(tmp_path / "gck"))
    _drain(q)
    seen = rejected = 0
    for p in q.recentProgress:
        om = (p.get("observedMetrics") or {}).get("gate")
        if om:
            seen += om["n_seen"]
            rejected += om["n_rejected"]
    e = load_events(spark, sf_dir)
    assert seen == e.count()
    assert rejected == e.filter(bad).count()
    assert spark.sql("SELECT count(*) FROM gated_out").first()[0] == seen - rejected


def test_dedup_gate_fails_loudly_on_corpus_schema_drift(spark, sf_dir, tmp_path):
    """Regression: a corpus whose parquet lacks the signature columns must
    FAIL the micro-batch, not silently skip the cross-corpus check (the
    old blanket except swallowed any analysis error and admitted every
    duplicate from then on)."""
    import pytest

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "drift_src")
    d.limit(20).coalesce(1).write.parquet(src)
    corpus = str(tmp_path / "drift_corpus")
    # poison: corpus exists but carries no mh*/sh signature columns
    d.limit(5).write.parquet(corpus)

    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(src),
            corpus,
        )
        .option("checkpointLocation", str(tmp_path / "drift_ck"))
        .start()
    )
    with pytest.raises(Exception):
        q.processAllAvailable()
    q.stop()


def test_table_exists_is_filesystem_agnostic(spark, tmp_path):
    """Round-4 ADVICE (medium): sink existence checks must go through the
    Hadoop FileSystem API, not os.path.isdir — the latter is always False
    for non-local schemes. Checked here: plain local paths, file: URIs
    (which isdir would already mis-handle), and absent paths."""
    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import table_exists

    d = tmp_path / "t"
    d.mkdir()
    assert table_exists(spark, str(d))
    assert table_exists(spark, f"file:{d}")
    assert not table_exists(spark, str(tmp_path / "missing"))
    assert not table_exists(spark, f"file:{tmp_path}/missing")


def test_stateful_user_counts_tws_matches_v1_or_names_missing_dep(spark, sf_dir, tmp_path):
    """The transformWithState twin either runs and matches the
    applyInPandasWithState counter exactly (environments with protobuf +
    RocksDB provider), or fails FAST with the dependency named — never
    the opaque mid-query streaming-runner crash."""
    import pytest

    ev = _events_stream(spark, sf_dir, tmp_path)
    try:
        df = sp.stateful_user_counts_tws(ev)
    except ImportError as ex:
        assert "google.protobuf" in str(ex)
        pytest.skip(
            "protobuf not in this container; operator guarded "
            "(re-probed round 16, 2026-08-16: `import google.protobuf` "
            "still raises ModuleNotFoundError)"
        )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = sp.run_to_memory(df, "tws_out", "update")
        _drain(q)
        from akkastreamprocessnpmpackagedependencies_spark.session import load_events

        expected = {
            r.user_id: r.n
            for r in load_events(spark, sf_dir)
            .groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }
        final = {
            r.user_id: r.n_events
            for r in spark.sql(
                "SELECT user_id, max(n_events) AS n_events FROM tws_out GROUP BY user_id"
            ).collect()
        }
        assert final == expected
    finally:
        if old is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            # leaving RocksDB active would silently change every later
            # test sharing the session fixture (round-7 ADVICE)
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_heavy_hitters_misra_gries_guarantees(spark, sf_dir, tmp_path):
    """The sharded Misra-Gries sketch must satisfy its deterministic
    bounds against batch ground truth, per shard, at the FINAL emitted
    summary: (a) mg_count never overestimates, (b) the underestimate is
    at most shard_n/(capacity+1), (c) every key with true frequency
    above that bound is present in the sketch — while total state stays
    at shards x capacity counters no matter how many distinct users the
    stream carries."""
    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_heavy_hitters(ev), "hh_out", "update")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    truth = {
        (r.shard, r.user_id): r.n
        for r in load_events(spark, sf_dir)
        .groupBy((F.col("user_id") % sp.MG_SHARDS).alias("shard"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    shard_totals = {}
    for (shard, _), n in truth.items():
        shard_totals[shard] = shard_totals.get(shard, 0) + n
    rows = spark.sql(
        """SELECT * FROM hh_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM hh_out GROUP BY shard)"""
    ).collect()
    assert rows, "no summaries emitted"
    seen_shards = set()
    for r in rows:
        seen_shards.add(r.shard)
        # final summary: the whole shard has been consumed
        assert r.shard_n == shard_totals[r.shard]
        true = truth[(r.shard, r.user_id)]
        eps = r.shard_n / (sp.MG_CAPACITY + 1)
        assert r.mg_count <= true, (r, true)
        assert true - r.mg_count <= eps, (r, true, eps)
        # bounded state: at most `capacity` counters per shard
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r.shard, []).append(r)
    for shard, rs in per_shard.items():
        assert len(rs) <= sp.MG_CAPACITY
        eps = shard_totals[shard] / (sp.MG_CAPACITY + 1)
        sketched = {r.user_id for r in rs}
        for (s, uid), n in truth.items():
            if s == shard and n > eps:
                assert uid in sketched, (shard, uid, n, eps)
    assert seen_shards == set(shard_totals)


def test_streaming_value_anomalies_match_serial_replay(spark, sf_dir, tmp_path):
    """The streaming detector's verdicts must equal a driver-side serial
    Welford replay over the same per-user (ts, event_id) order — exact
    event-id sets and z-scores to 1e-9 — across micro-batch boundaries
    (state carries (n, mean, M2) between files)."""
    import math

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_value_anomalies(ev), "anom_out", "append")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    got = {
        r.event_id: r.zscore
        for r in spark.sql("SELECT event_id, zscore FROM anom_out").collect()
    }
    want = {}
    rows = (
        load_events(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    flagged_something = False
    for user, urs in by_user.items():
        urs.sort(key=lambda r: (r.ts, r.event_id))
        n, mean, m2 = 0, 0.0, 0.0
        for r in urs:
            v = float(r.value)
            if n >= sp.ANOM_MIN_N:
                sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
                if sd > 0 and abs(v - mean) > sp.ANOM_Z * sd:
                    want[r.event_id] = (v - mean) / sd
                    flagged_something = True
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
    assert set(got) == set(want)
    for eid, zs in want.items():
        assert abs(got[eid] - zs) < 1e-9
    # the fixture stream must actually exercise the flag path
    assert flagged_something


def test_streaming_quantiles_gk_rank_bounds(spark, sf_dir, tmp_path):
    """The GK sketch's final per-shard estimates must each sit within
    eps*n RANK error of the target quantile against the exact sorted
    batch values — the deterministic guarantee the invariant maintains
    (a randomized sketch could not be tested this hard). State size is
    also asserted sublinear: far fewer tuples than events."""
    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_quantiles_gk(ev), "gk_out", "update")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    vals = {}
    for r in (
        load_events(spark, sf_dir)
        .select((F.col("user_id") % sp.GK_SHARDS).alias("shard"), "value")
        .collect()
    ):
        vals.setdefault(r.shard, []).append(r.value)
    rows = spark.sql(
        """SELECT * FROM gk_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM gk_out GROUP BY shard)"""
    ).collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add(r.shard)
        xs = sorted(vals[r.shard])
        n = len(xs)
        assert r.shard_n == n  # final summary covers the whole shard
        # true rank range of the estimate among the exact values
        import bisect

        lo = bisect.bisect_left(xs, r.estimate) + 1
        hi = bisect.bisect_right(xs, r.estimate)
        target = r.phi * n
        eps_n = sp.GK_EPS * n + 1  # +1: ceil/tie slack
        assert lo - eps_n <= target <= hi + eps_n, (r, lo, hi, target)
    assert seen == set(vals)


def test_mg_merge_kernel_preserves_guarantees():
    """The batched Misra-Gries merge (round-8 vectorization) must satisfy
    the SAME deterministic guarantees as the per-event update it
    replaced, on an adversarial sequence (a heavy key buried in churn):
    never overestimates, undercounts by at most n/(capacity+1), keeps
    at most `capacity` counters, and retains every key whose true
    frequency exceeds the bound — checked after EVERY batch, not just at
    the end, and against a per-event reference run side by side."""
    import random

    cap = sp.MG_CAPACITY
    rng = random.Random(8)
    stream = [999] * 120 + [rng.randrange(1000) for _ in range(880)]
    rng.shuffle(stream)

    def per_event(mg, uid):
        if uid in mg:
            mg[uid] += 1
        elif len(mg) < cap:
            mg[uid] = 1
        else:
            mg = {k: c - 1 for k, c in mg.items() if c > 1}
        return mg

    mg_vec, mg_ref, truth, n = {}, {}, {}, 0
    for start in range(0, len(stream), 97):  # uneven batch sizes
        batch = stream[start : start + 97]
        n += len(batch)
        weights = {}
        for uid in batch:
            truth[uid] = truth.get(uid, 0) + 1
            weights[uid] = weights.get(uid, 0) + 1
            mg_ref = per_event(mg_ref, uid)
        mg_vec = sp._mg_merge(mg_vec, weights.items(), cap)
        bound = n / (cap + 1)
        for mg in (mg_vec, mg_ref):
            assert len(mg) <= cap
            for k, c in mg.items():
                assert c <= truth[k], (k, c, truth[k])
                assert truth[k] - c <= bound
            for k, t in truth.items():
                if t > bound:
                    assert k in mg, (k, t, bound)
    # the heavy key survives both paths with a usable count
    assert 999 in mg_vec and 999 in mg_ref


def test_gk_merged_quantiles_summed_eps_bound(spark, sf_dir, tmp_path):
    """Cross-shard GK merge (round-7 verdict item #6): the summary-
    emitting twin streams the same state evolution, and merging the
    final per-shard summaries must answer GLOBAL quantiles within the
    summed-eps rank bound, eps*N + eps*max_shard_n + shards (+1 ceil
    slack), against the exact sorted batch values across ALL shards."""
    import bisect

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(
        sp.streaming_quantiles_gk_summary(ev), "gk_sum_out", "append"
    )
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    rows = spark.sql(
        """SELECT * FROM gk_sum_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM gk_sum_out GROUP BY shard)"""
    ).collect()
    assert len(rows) == sp.GK_SHARDS
    summaries = [(r.vs, r.gs, r.ds, r.shard_n) for r in rows]
    # sublinear state: far fewer stored tuples than events
    assert all(len(r.vs) < r.shard_n / 4 for r in rows)
    xs = sorted(r.value for r in load_events(spark, sf_dir).select("value").collect())
    n_total = len(xs)
    assert n_total == sum(r.shard_n for r in rows)
    max_shard = max(r.shard_n for r in rows)
    merged = sp.gk_merged_quantiles(summaries)
    assert set(merged) == set(sp.GK_PHIS)
    bound = sp.GK_EPS * n_total + sp.GK_EPS * max_shard + sp.GK_SHARDS + 1
    for phi, est in merged.items():
        lo = bisect.bisect_left(xs, est) + 1
        hi = bisect.bisect_right(xs, est)
        target = phi * n_total
        assert lo - bound <= target <= hi + bound, (phi, est, lo, hi, target, bound)


def test_gk_merged_quantiles_pure_kernel_exactness():
    """On summaries built from disjoint sorted runs the merge must land
    near the true global quantiles of the union — a Spark-free check
    that the bracket arithmetic (rmin/rmax prefix sums, candidate
    midpoints) is right, with eps tight enough that an off-by-a-tuple
    bug would blow the bound."""
    import bisect

    eps = sp.GK_EPS
    shards = []
    allv = []
    for s in range(3):
        vals = [float(s * 1000 + i * 3 % 997) for i in range(500)]
        allv.extend(vals)
        tup, n = [], 0
        import pandas as pd

        pdf = pd.DataFrame(
            {"ts": range(len(vals)), "event_id": range(len(vals)), "value": vals}
        )
        tup = sp._gk_insert_batch(tup, n, pdf, eps)
        shards.append((*sp._gk_state_dump(tup), len(vals)))
    xs = sorted(allv)
    n_total = len(xs)
    merged = sp.gk_merged_quantiles(shards)
    bound = eps * n_total + eps * 500 + 3 + 1
    for phi, est in merged.items():
        lo = bisect.bisect_left(xs, est) + 1
        hi = bisect.bisect_right(xs, est)
        target = phi * n_total
        assert lo - bound <= target <= hi + bound, (phi, est, lo, hi, target)


def test_stateful_anomalies_survive_checkpoint_restart(spark, sf_dir, tmp_path):
    """State RECOVERY, not just offset recovery: the Welford (n, mean,
    M2) per-user state must survive a stop/restart from the checkpoint —
    phase-2 verdicts are judged against statistics accumulated in
    phase 1, and the union of both phases' anomalies must equal the
    uninterrupted serial replay exactly (ids and z-scores). A lost or
    reset state would re-enter the min_n warmup and silently drop or
    re-score phase-2 anomalies."""
    import glob
    import math
    import os
    import shutil

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    staging = str(tmp_path / "staged")
    live = str(tmp_path / "live")
    ck = str(tmp_path / "anom_ck")
    os.makedirs(live)
    _write_time_sliced(load_events(spark, sf_dir), staging, 4)
    parts = sorted(
        glob.glob(os.path.join(staging, "part-*")), key=os.path.getmtime
    )
    assert len(parts) == 4

    sink = str(tmp_path / "anom_sink")

    def start():
        # a DURABLE sink: the memory sink refuses checkpoint recovery
        # outright ("does not support recovering from checkpoint")
        ev = sp.read_events_stream(spark, live, max_files=1)
        return (
            sp.streaming_value_anomalies(ev)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .start()
        )

    def arrive(ps, t0):
        # explicit strictly-increasing mtimes: the file source orders
        # same-batch files by modification time, and two shutil.copy
        # calls land in the same millisecond — a TIE breaks by random
        # part-file name and can deliver the later time slice first
        # (observed: tile 4 before tile 3 -> 13 events missing from the
        # Welford state when the extras were judged)
        for i, p in enumerate(ps):
            dst = os.path.join(live, os.path.basename(p))
            shutil.copy(p, dst)
            os.utime(dst, (t0 + i, t0 + i))

    import time

    arrive(parts[:2], time.time() - 60)
    _drain(start())
    phase1_ids = {r.event_id for r in spark.read.parquet(sink).collect()}
    arrive(parts[2:], time.time() - 30)
    _drain(start())
    got = {
        r.event_id: r.zscore for r in spark.read.parquet(sink).collect()
    }
    phase2_ids = set(got) - phase1_ids

    want = {}
    by_user = {}
    for r in load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    ).collect():
        by_user.setdefault(r.user_id, []).append(r)
    for user, urs in by_user.items():
        urs.sort(key=lambda r: (r.ts, r.event_id))
        n, mean, m2 = 0, 0.0, 0.0
        for r in urs:
            v = float(r.value)
            if n >= sp.ANOM_MIN_N:
                sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
                if sd > 0 and abs(v - mean) > sp.ANOM_Z * sd:
                    want[r.event_id] = (v - mean) / sd
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
    assert set(got) == set(want)
    for eid, zs in want.items():
        assert abs(got[eid] - zs) < 1e-9
    # both phases contributed (state genuinely crossed the restart)
    assert phase1_ids and phase2_ids


def test_gk_merged_quantiles_property_random_shards():
    """Property: for random shard counts, sizes, and value distributions,
    merged global quantiles stay within the documented summed-eps rank
    bound of the exact union ranks."""
    import bisect
    import random

    import pandas as pd

    eps = sp.GK_EPS
    for trial in range(12):
        rng = random.Random(100 + trial)
        n_shards = rng.randint(1, 6)
        allv, shards = [], []
        for s in range(n_shards):
            m = rng.randint(1, 800)
            vals = [rng.gauss(rng.uniform(-5, 5), rng.uniform(0.5, 3)) for _ in range(m)]
            allv.extend(vals)
            pdf = pd.DataFrame(
                {"ts": range(m), "event_id": range(m), "value": vals}
            )
            tup = sp._gk_insert_batch([], 0, pdf, eps)
            shards.append((*sp._gk_state_dump(tup), m))
        xs = sorted(allv)
        n_total = len(xs)
        max_shard = max(s[3] for s in shards)
        bound = eps * n_total + eps * max_shard + n_shards + 1
        for phi, est in sp.gk_merged_quantiles(shards).items():
            lo = bisect.bisect_left(xs, est) + 1
            hi = bisect.bisect_right(xs, est)
            target = phi * n_total
            assert lo - bound <= target <= hi + bound, (
                trial, phi, est, lo, hi, target, bound,
            )


def test_mg_global_heavy_hitters_union_bound(spark, sf_dir, tmp_path):
    """Global heavy hitters from the key-sharded MG summaries: the union
    is the global sketch (each key lives in one shard), every key with
    true global frequency above total_n/(capacity+1) must be present,
    counts never overestimate, and a fabricated cross-shard duplicate is
    rejected loudly."""
    import pytest as _pytest

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_heavy_hitters(ev), "hh_glob_out", "update")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    rows = spark.sql(
        """SELECT * FROM hh_glob_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM hh_glob_out GROUP BY shard)"""
    ).collect()
    truth = {
        r.user_id: r.n
        for r in load_events(spark, sf_dir)
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    total_n = sum(truth.values())
    glob, bound = sp.mg_global_heavy_hitters(rows, total_n)
    assert bound == total_n / (sp.MG_CAPACITY + 1)
    for uid, c in glob.items():
        assert c <= truth[uid]
    for uid, t in truth.items():
        if t > bound:
            assert uid in glob, (uid, t, bound)
    # key-sharding violation must be loud, not silently double-counted
    dup = rows + [rows[0]]
    with _pytest.raises(ValueError, match="two shard summaries"):
        sp.mg_global_heavy_hitters(dup, total_n)


def test_write_global_quantiles_live_pipeline(spark, sf_dir, tmp_path):
    """The operationalized GK merge: summary stream -> foreachBatch merge
    -> parquet time series. The LAST batch's estimates must satisfy the
    summed-eps rank bound against the exact union of all values, and the
    series must contain one row per phi per non-empty batch."""
    import bisect

    ev = _events_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "gq_out")
    q = (
        sp.write_global_quantiles(sp.streaming_quantiles_gk_summary(ev), out)
        .option("checkpointLocation", str(tmp_path / "gq_ck"))
        .start()
    )
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    series = spark.read.parquet(out).collect()
    assert series, "no global quantiles written"
    last_batch = max(r.batch_id for r in series)
    final = {r.phi: r for r in series if r.batch_id == last_batch}
    assert set(final) == set(sp.GK_PHIS)
    xs = sorted(r.value for r in load_events(spark, sf_dir).select("value").collect())
    n_total = len(xs)
    assert final[0.5].n_total == n_total  # final batch saw every event
    # per-shard sizes for the bound's max_shard term
    shard_n = {}
    for v in (
        load_events(spark, sf_dir)
        .groupBy((F.col("user_id") % sp.GK_SHARDS).alias("s"))
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        shard_n[v.s] = v.n
    bound = sp.GK_EPS * n_total + sp.GK_EPS * max(shard_n.values()) + sp.GK_SHARDS + 1
    for phi, r in final.items():
        lo = bisect.bisect_left(xs, r.estimate) + 1
        hi = bisect.bisect_right(xs, r.estimate)
        target = phi * n_total
        assert lo - bound <= target <= hi + bound, (phi, r, lo, hi, target)


# case -> (operator, output mode, state key column, count column, shards;
# None for the counter, whose every user is its own shard)
_RESTART_CASES = {
    "counter": (sp.stateful_user_counts, "update", "user_id", "n_events", None),
    "mg": (sp.streaming_heavy_hitters, "update", "shard", "shard_n", sp.MG_SHARDS),
    "gk_summary": (
        sp.streaming_quantiles_gk_summary, "append", "shard", "shard_n",
        sp.GK_SHARDS,
    ),
    "hll": (sp.streaming_distinct_hll, "update", "shard", "shard_n", sp.HLL_SHARDS),
    "cms": (sp.streaming_freq_cms, "update", "shard", "shard_n", sp.CMS_SHARDS),
    "bloom": (sp.streaming_seen_bloom, "update", "shard", "shard_n", sp.BLOOM_SHARDS),
    "reservoir": (
        sp.streaming_reservoir_sample, "update", "shard", "shard_n", sp.RSV_SHARDS,
    ),
}


@pytest.fixture(scope="module")
def _restart_parts(spark, sf_dir, tmp_path_factory):
    """The events as 4 time-ordered parquet files, written once."""
    import glob

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    staging = str(tmp_path_factory.mktemp("restart") / "staged")
    _write_time_sliced(load_events(spark, sf_dir), staging, 4)
    parts = sorted(glob.glob(os.path.join(staging, "part-*")), key=os.path.getmtime)
    assert len(parts) == 4
    return parts


@pytest.mark.parametrize("case", sorted(_RESTART_CASES))
def test_keyed_state_survives_checkpoint_restart(
    spark, sf_dir, tmp_path, case, _restart_parts
):
    """State recovery for every operator on ``_sharded_sketch``: 2 files,
    a stop, a restart from the SAME checkpoint, 2 more files must leave
    each shard's latest rows equal to those of an uninterrupted run over
    the 4 files (the same per-file micro-batches, so even GK, whose
    compress points follow the batch split, matches tuple for tuple;
    HLL, CMS, Bloom and the reservoir would match under any split), and
    the shards' counts must sum to the event count: a state reset at the
    restart would restart a count at 0, a replay would count twice."""
    import shutil
    import time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    op, mode, key, count, shards = _RESTART_CASES[case]

    def arrive(live, ps, t0):
        # strictly increasing mtimes: the file source orders files by
        # modification time, and two copies can land in one millisecond
        os.makedirs(live, exist_ok=True)
        for i, p in enumerate(ps):
            dst = os.path.join(live, os.path.basename(p))
            shutil.copy(p, dst)
            os.utime(dst, (t0 + i, t0 + i))

    def run(live, sink, ck):
        # foreachBatch appends: a durable sink that takes either output
        # mode and recovers from a checkpoint (the memory sink cannot
        # recover; the parquet sink rejects update)
        ev = sp.read_events_stream(spark, live, max_files=1)
        _drain(
            op(ev).writeStream.outputMode(mode)
            .foreachBatch(lambda b, _: b.write.mode("append").parquet(sink))
            .option("checkpointLocation", ck)
            .start()
        )

    def latest(sink):
        """key -> (its largest count, the rows emitted with it)."""
        best = {}
        for r in spark.read.parquet(sink).collect():
            row = tuple(
                bytes(v) if isinstance(v, (bytes, bytearray))
                else tuple(v) if isinstance(v, list) else v
                for v in r
            )
            k, c = r[key], r[count]
            if k not in best or c > best[k][0]:
                best[k] = (c, [row])
            elif c == best[k][0]:
                best[k][1].append(row)
        return {k: (c, sorted(rows)) for k, (c, rows) in best.items()}

    live_a, sink_a, ck_a = (str(tmp_path / f"{d}_a") for d in ("live", "sink", "ck"))
    arrive(live_a, _restart_parts[:2], time.time() - 60)
    run(live_a, sink_a, ck_a)
    arrive(live_a, _restart_parts[2:], time.time() - 30)
    run(live_a, sink_a, ck_a)
    live_b, sink_b, ck_b = (str(tmp_path / f"{d}_b") for d in ("live", "sink", "ck"))
    arrive(live_b, _restart_parts, time.time() - 60)
    run(live_b, sink_b, ck_b)

    a, b = latest(sink_a), latest(sink_b)
    events = load_events(spark, sf_dir)
    keys = (
        set(range(shards)) if shards
        else {r.user_id for r in events.select("user_id").distinct().collect()}
    )
    assert set(a) == set(b) == keys
    assert sum(c for c, _ in a.values()) == events.count()  # none lost or replayed
    for k in a:
        assert a[k] == b[k], (case, k, a[k][0], b[k][0])


def test_welford_closed_form_matches_serial_recursion_numerically():
    """The round-8 vectorization unrolls the Welford recursion to
    cumsums CENTERED on the prior mean (exact algebraic identity, but
    deviation-scale arithmetic). Pin the numeric envelope Spark-free by
    driving the operator's actual kernel (_welford_batch) across hostile
    regimes — offset/sd ratios up to 1e9, tiny variances, mixed signs,
    uneven batch splits — against a serial recursion. The tolerance is
    the CONDITION bound, not a constant: float64 values at offset b with
    deviations sd only carry the deviation to ~eps*|b|/sd relative, so
    NO algorithm (serial included) can agree tighter than that — the
    assert is 1e-9 + 8*eps*|b|/sd in z units, which collapses to the
    streaming test's 1e-9 in benign regimes. Flag sets must agree except
    possibly at borderline crossings within the same bound of the z
    threshold."""
    import math
    import random

    import numpy as np

    for trial, (offset, scale) in enumerate(
        [(0.0, 1.0), (1e6, 1e-3), (-1e5, 50.0), (1e3, 1e-6), (1e9, 1.0)]
    ):
        rng = random.Random(trial)
        values = [offset + scale * rng.gauss(0, 1) for _ in range(400)]
        for k in range(20, 400, 57):  # inject outliers so the flag path runs
            values[k] += scale * 12

        # serial recursion (the pre-round-8 semantics)
        n, mean, m2 = 0, 0.0, 0.0
        serial = {}
        for i, v in enumerate(values):
            if n >= sp.ANOM_MIN_N:
                sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
                if sd > 0 and abs(v - mean) > sp.ANOM_Z * sd:
                    serial[i] = (v - mean) / sd
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)

        # the operator's kernel, applied batch-wise with uneven splits
        state = (0, 0.0, 0.0)
        vec = {}
        idx0 = 0
        for start in range(0, 400, 73):
            v = np.asarray(values[start : start + 73], dtype=np.float64)
            flag, zs, n_prev, state = sp._welford_batch(
                *state, v, sp.ANOM_Z, sp.ANOM_MIN_N
            )
            for j in np.flatnonzero(flag):
                vec[idx0 + int(j)] = float(zs[j])
            idx0 += len(v)

        eps = 2.22e-16
        tol = 1e-9 + 8 * eps * (abs(offset) / scale if scale else 0.0)
        diff = set(vec) ^ set(serial)
        for i in diff:  # only quantization-borderline flags may disagree
            zv = vec.get(i, serial.get(i))
            assert abs(abs(zv) - sp.ANOM_Z) < tol, (trial, i, zv, tol)
        assert serial, "flag path not exercised"
        for i, zv in serial.items():
            if i in vec:
                assert abs(vec[i] - zv) < tol, (trial, i, vec[i], zv, tol)
        # final state agreement too (it seeds every later batch)
        n1, mean1, m2_1 = state
        assert n1 == n
        assert abs(mean1 - mean) <= 1e-12 * max(1.0, abs(mean)) + tol * scale
        assert abs(m2_1 - m2) <= 1e-6 * max(1.0, abs(m2)) + (tol * scale) ** 2 * n


def test_gk_insert_kernel_maintains_invariant():
    """The GK correctness proof rests on one invariant: for every stored
    tuple i > 0, g_i + d_i <= max(1, floor(2*eps*n)) (the bound compress
    enforces and insert respects). Assert it Spark-free after EVERY
    batch across value distributions — sorted, reverse-sorted, heavy
    duplicates, adversarial sawtooth — plus summary monotonicity and the
    exact total mass sum(g) == n."""
    import math
    import random

    import pandas as pd

    eps = sp.GK_EPS
    rng = random.Random(42)
    streams = {
        "sorted": sorted(rng.gauss(0, 1) for _ in range(3000)),
        "reversed": sorted((rng.gauss(0, 1) for _ in range(3000)), reverse=True),
        "dupes": [float(rng.randrange(7)) for _ in range(3000)],
        "sawtooth": [float(i % 97) for i in range(3000)],
    }
    for name, vals in streams.items():
        tup, n = [], 0
        for start in range(0, len(vals), 251):
            batch = vals[start : start + 251]
            pdf = pd.DataFrame(
                {
                    "ts": range(start, start + len(batch)),
                    "event_id": range(start, start + len(batch)),
                    "value": batch,
                }
            )
            tup = sp._gk_insert_batch(tup, n, pdf, eps)
            n += len(batch)
            bound = max(1, int(math.floor(2 * eps * n)))
            vs = [t[0] for t in tup]
            assert vs == sorted(vs), name  # summary stays value-ordered
            assert sum(t[1] for t in tup) == n, name  # mass conservation
            for i, (v, g, d) in enumerate(tup):
                if i > 0:
                    assert g + d <= bound, (name, n, i, g, d, bound)
        # state stays sublinear at the end
        assert len(tup) < n / 4, (name, len(tup), n)


def test_write_global_quantiles_carries_quiet_shard_summaries(spark, tmp_path):
    """Round-8 ADVICE (medium): a shard with no events in a micro-batch
    emits no summary row that batch (NoTimeout stateful op), but its
    accumulated state must STILL contribute to that batch's global
    quantile row. File 1 feeds all shards; file 2 feeds only shard 0 —
    the final batch's n_total must equal the full stream's event count,
    not just the re-emitting shard's."""
    import time as _time

    src = str(tmp_path / "quiet_src")
    rows1 = [
        (i, (1_700_000_000_000_000_000 + i * 1_000_000_000), i % 16,
         "click", float(i % 101), "{}")
        for i in range(800)
    ]
    # shard = user_id % GK_SHARDS; user_id multiples of 4 -> shard 0 only
    rows2 = [
        (10_000 + i, (1_700_001_000_000_000_000 + i * 1_000_000_000),
         4 * (i % 5), "click", float((7 * i) % 101), "{}")
        for i in range(300)
    ]
    for j, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    ev = sp.read_events_stream(spark, src, max_files=1)
    out = str(tmp_path / "quiet_out")
    q = (
        sp.write_global_quantiles(sp.streaming_quantiles_gk_summary(ev), out)
        .option("checkpointLocation", str(tmp_path / "quiet_ck"))
        .start()
    )
    _drain(q)
    series = spark.read.parquet(out).collect()
    last_batch = max(r.batch_id for r in series)
    assert last_batch > 0, "expected at least two micro-batches"
    final = {r.phi: r for r in series if r.batch_id == last_batch}
    # every shard's accumulated state is in the merge: n_total == ALL events
    assert final[0.5].n_total == len(rows1) + len(rows2)
    # and the quiet shards' values still influence the estimates: the
    # estimate must be a value some shard stored, within the global range
    assert all(0.0 <= r.estimate <= 100.0 for r in final.values())


@pytest.mark.slow
def test_write_global_quantiles_carry_survives_restart(spark, tmp_path):
    """Round-9 verdict #2: the per-shard carry persists to a sidecar and
    re-hydrates at stream start, so a QUIET shard's pre-restart state
    contributes to the FIRST post-restart global row. File 1 feeds all
    4 shards, the query is stopped, file 2 feeds only shard 0, and a
    NEW query (same checkpoint) processes it: with driver-memory-only
    carry the post-restart row would cover shard 0 alone (n_total=300);
    with the persisted carry it must cover the whole stream."""
    import time as _time

    src = str(tmp_path / "rh_src")
    out = str(tmp_path / "rh_out")
    ck = str(tmp_path / "rh_ck")
    rows1 = [
        (i, (1_700_000_000_000_000_000 + i * 1_000_000_000), i % 16,
         "click", float(i % 101), "{}")
        for i in range(800)
    ]
    # user_id multiples of 16 (a fortiori of GK_SHARDS=4) -> shard 0 only
    rows2 = [
        (10_000 + i, (1_700_001_000_000_000_000 + i * 1_000_000_000),
         16 * (i % 5), "click", float((7 * i) % 101), "{}")
        for i in range(300)
    ]

    def run_once(rows):
        spark.createDataFrame(rows, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
        ev = sp.read_events_stream(spark, src, max_files=1)
        q = (
            sp.write_global_quantiles(sp.streaming_quantiles_gk_summary(ev), out)
            .option("checkpointLocation", ck)
            .start()
        )
        _drain(q)

    run_once(rows1)
    pre = spark.read.parquet(out).collect()
    assert max(r.n_total for r in pre) == len(rows1)
    run_once(rows2)  # a brand-new query object: fresh driver memory
    series = spark.read.parquet(out).collect()
    last_batch = max(r.batch_id for r in series)
    final = {r.phi: r for r in series if r.batch_id == last_batch}
    assert final[0.5].n_total == len(rows1) + len(rows2), (
        "quiet shards' pre-restart state missing from the first "
        "post-restart global row"
    )
    assert all(0.0 <= r.estimate <= 100.0 for r in final.values())


def test_write_global_distinct_carry_survives_restart(spark, tmp_path):
    """The HLL twin of the carry-restart test: file 2 touches only HLL
    shard 0 (event_id multiples of 4) after a restart; the first
    post-restart row must still absorb every pre-restart shard's
    registers (n_total == whole stream, estimate ~= global distinct)."""
    import time as _time

    src = str(tmp_path / "rhd_src")
    out = str(tmp_path / "rhd_out")
    ck = str(tmp_path / "rhd_ck")
    rows1 = [
        (i, (1_700_000_000_000_000_000 + i * 1_000_000_000), i % 500,
         "click", float(i % 101), "{}")
        for i in range(2000)
    ]
    rows2 = [
        (10_000 + 4 * i, (1_700_002_000_000_000_000 + i * 1_000_000_000),
         500 + (i % 100), "click", float(i % 101), "{}")
        for i in range(400)
    ]

    def run_once(rows):
        spark.createDataFrame(rows, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
        ev = sp.read_events_stream(spark, src, max_files=1)
        q = (
            sp.write_global_distinct(sp.streaming_distinct_hll(ev), out)
            .option("checkpointLocation", ck)
            .start()
        )
        _drain(q)

    run_once(rows1)
    run_once(rows2)
    series = sorted(spark.read.parquet(out).collect(), key=lambda r: r.batch_id)
    assert series[-1].n_total == len(rows1) + len(rows2), (
        "pre-restart shards' registers missing from the post-restart merge"
    )
    true_global = 600  # user_id 0..499 then 500..599
    tol = 3 * 1.04 / ((1 << sp.HLL_B) ** 0.5)
    assert abs(series[-1].estimate - true_global) / true_global <= tol


@pytest.mark.slow
def test_append_or_compact_swap_is_crash_recoverable(spark, tmp_path):
    """Round-9 ADVICE low: compaction must never hold the series only in
    driver memory while the on-disk copy is deleted. The rewrite keeps a
    complete copy on disk at every instant (write temp -> rename aside
    -> install -> drop), and the one exposed window — live path renamed
    away, temp not yet installed — is healed at the next call. This test
    (a) drives a compaction and asserts the series survives intact with
    a bounded file count, (b) reconstructs the exposed crash window by
    hand and asserts the next append heals it with zero data loss."""
    import glob as _glob

    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        _append_or_compact,
        fs_rename,
        table_exists,
    )

    out = str(tmp_path / "swap_series")
    schema = "batch_id long, v double"
    appends = [0]
    for b in range(5):  # compact_every=3 -> one compaction inside
        _append_or_compact(
            spark.createDataFrame([(b, float(b))], schema), out, appends,
            compact_every=3,
        )
    rows = {(r.batch_id, r.v) for r in spark.read.parquet(out).collect()}
    assert rows == {(b, float(b)) for b in range(5)}
    assert len(_glob.glob(os.path.join(out, "part-*"))) <= 4
    assert not table_exists(spark, out + "__compact_tmp")
    assert not table_exists(spark, out + "__compact_old")

    # reconstruct the exposed window: the full series sits in the temp,
    # the live path is gone (crash after `rename aside` + old deleted,
    # before `install`)
    fs_rename(spark, out, out + "__compact_tmp")
    assert not table_exists(spark, out)
    _append_or_compact(
        spark.createDataFrame([(5, 5.0)], schema), out, appends,
        compact_every=3,
    )
    healed = {(r.batch_id, r.v) for r in spark.read.parquet(out).collect()}
    assert healed == {(b, float(b)) for b in range(6)}, (
        "recovery lost rows across the simulated crash window"
    )


@pytest.mark.slow
def test_write_global_quantiles_compaction_bounds_file_count(spark, sf_dir, tmp_path):
    """Round-8 verdict #7: a long-running stream must not accrete one
    parquet file per micro-batch forever — every ``compact_every``
    appends the (tiny) series is rewritten as one file, so the part-file
    count stays bounded while the full batch history remains intact."""
    import glob as _glob

    ev = _events_stream(spark, sf_dir, tmp_path, n_files=6)
    out = str(tmp_path / "compact_out")
    q = (
        sp.write_global_quantiles(
            sp.streaming_quantiles_gk_summary(ev), out, compact_every=2
        )
        .option("checkpointLocation", str(tmp_path / "compact_ck"))
        .start()
    )
    _drain(q)
    series = spark.read.parquet(out).collect()
    assert {r.batch_id for r in series} == set(range(6))  # history intact
    n_files = len(_glob.glob(os.path.join(out, "part-*")))
    assert n_files <= 3, f"{n_files} part files; compaction not bounding"
    # the final row still reflects every event (carry + compaction
    # orthogonal: rewriting history must not perturb the live answer)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    last_batch = max(r.batch_id for r in series)
    n_total = {r.phi: r.n_total for r in series if r.batch_id == last_batch}
    assert n_total[0.5] == load_events(spark, sf_dir).count()


@pytest.mark.slow
def test_compaction_bound_holds_across_restarts(spark, tmp_path):
    """Round-10 ADVICE low: the compaction counter used to reset to 0 at
    every (re)start, so a stream restarted every few batches NEVER
    reached compact_every and the file count grew without bound. The
    counter now seeds from the series' current data-file count at the
    first batch, so the worst restart cadence — a fresh query per
    micro-batch, 6 times — still compacts on schedule and the file
    count stays within the documented bound while the batch history
    survives every rewrite."""
    import glob as _glob
    import time as _time

    src = str(tmp_path / "rc_src")
    out = str(tmp_path / "rc_out")
    ck = str(tmp_path / "rc_ck")
    for gen in range(6):
        rows = [
            (1000 * gen + i,
             (1_700_000_000_000_000_000 + (1000 * gen + i) * 1_000_000_000),
             i % 16, "click", float(i % 101), "{}")
            for i in range(50)
        ]
        spark.createDataFrame(rows, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
        ev = sp.read_events_stream(spark, src, max_files=1)
        q = (
            sp.write_global_quantiles(
                sp.streaming_quantiles_gk_summary(ev), out, compact_every=2
            )
            .option("checkpointLocation", ck)
            .start()
        )
        _drain(q)  # fresh query object each generation: appends resets
    n_files = len(_glob.glob(os.path.join(out, "part-*")))
    assert n_files <= 3, (
        f"{n_files} part files after 6 restart generations; the "
        "compaction counter is not seeding from the on-disk file count"
    )
    series = spark.read.parquet(out).collect()
    assert {r.batch_id for r in series} == set(range(6))  # history intact
    last_batch = max(r.batch_id for r in series)
    n_total = {r.phi: r.n_total for r in series if r.batch_id == last_batch}
    assert n_total[0.5] == 300  # every generation's events, post-restart


def test_dedup_gate_band_sidecar_layout_and_fallback(spark, sf_dir, tmp_path):
    """Round-8 verdict #5: the accepted corpus' band keys persist in a
    sidecar PARTITIONED BY band_bucket, so a batch probe partition-prunes
    instead of re-banding the whole corpus. Asserts (a) the sidecar
    exists with hash-bucket directories and one row per accepted doc per
    band, (b) a bucket-filtered read carries a partition filter in its
    plan, (c) deleting the sidecar (pre-sidecar corpus layout) still
    gates duplicates AND triggers the one-time backfill: the sidecar is
    reinstalled COMPLETE — one row per stored corpus doc per band — not
    just regrown from newly accepted docs (round-9 ADVICE medium: a
    batch-only sidecar would silently un-gate every pre-upgrade doc)."""
    import shutil

    from akkastreamprocessnpmpackagedependencies_spark.operators.dedup import N_BANDS
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table
    from akkastreamprocessnpmpackagedependencies_spark.sources.io import (
        scan_has_partition_filter,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "sc_src")
    d.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(src)
    corpus = str(tmp_path / "sc_corpus")
    bands = corpus + "_bands"

    def run_gate(ck: str):
        q = (
            sp.write_dedup_gated(
                spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                corpus,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_gate("sc_ck1")
    acc1 = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    side = spark.read.parquet(bands)
    assert set(side.columns) >= {"doc_id", "b", "bkey", "band_bucket"}
    # one band row per accepted doc per band, nothing else
    assert side.count() == len(acc1) * N_BANDS
    assert {r.doc_id for r in side.select("doc_id").distinct().collect()} == acc1
    # bucket-filtered read prunes partitions (the probe's shape)
    probe = side.filter(F.col("band_bucket").isin([0, 1, 2]))
    assert scan_has_partition_filter(probe, "band_bucket")
    # ...and the pruning is MEASURED I/O, not just plan shape (round-9
    # verdict #4): with every bucket occupied, a two-bucket probe must
    # select strictly fewer files than the sidecar holds — the
    # |touched|/|buckets| read the docstring promises
    from akkastreamprocessnpmpackagedependencies_spark.sources.io import (
        scan_files_read,
    )
    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        DEDUP_BAND_BUCKETS,
    )

    occupied = {r[0] for r in side.select("band_bucket").distinct().collect()}
    assert len(occupied) == DEDUP_BAND_BUCKETS, "fixture fills every bucket"
    touched = sorted(occupied)[:2]
    pruned_files = scan_files_read(
        spark.read.parquet(bands).filter(F.col("band_bucket").isin(touched))
    )
    all_files = scan_files_read(spark.read.parquet(bands))
    assert pruned_files < all_files, (
        f"probe read {pruned_files}/{all_files} files; partition pruning "
        "is not reducing I/O"
    )

    # pre-sidecar layout: drop the sidecar, replay the same docs under a
    # fresh checkpoint — every doc is now a corpus duplicate and must be
    # rejected through the backfilled probe
    shutil.rmtree(bands)
    run_gate("sc_ck2")
    acc2 = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    assert acc2 == acc1, "replayed duplicates slipped past the backfilled probe"
    # the backfill reinstalled the COMPLETE sidecar (every stored corpus
    # doc x every band), not just the batch's accepted rows (none here)
    side2 = spark.read.parquet(bands)
    assert side2.count() == len(acc1) * N_BANDS
    assert {r.doc_id for r in side2.select("doc_id").distinct().collect()} == acc1
    # and no swap leftovers remain
    assert not os.path.exists(bands + "__backfill_tmp")


def test_dedup_gate_replay_after_partial_crash_readmits_batch(spark, sf_dir, tmp_path):
    """Round-9 ADVICE high: the sidecar is written before the corpus
    append, so a crash between the two replays the batch against a
    sidecar already holding the batch's own (orphan) band rows. Those
    orphans surface every replayed doc as a (d, d) candidate; verifying
    against batch-side signatures would self-match at jaccard 1.0 and
    silently drop — and permanently lose — the whole batch. The fix
    verifies cross candidates against CORPUS-side signatures only, so
    orphans produce no drop. This test constructs the exact post-crash
    state (corpus from batch A + orphan sidecar rows for batch B, batch
    B absent from the corpus) and asserts batch B is re-admitted."""
    from akkastreamprocessnpmpackagedependencies_spark.operators.dedup import (
        _band_frame,
        _signatures,
    )
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table
    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        DEDUP_BAND_BUCKETS,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_a = d.filter(F.col("doc_id") % 5 == 0)
    batch_b = d.filter(F.col("doc_id") % 5 == 2)
    corpus = str(tmp_path / "cr_corpus")
    bands = corpus + "_bands"

    # batch A through the gate: corpus + sidecar in the normal layout
    seed = str(tmp_path / "cr_seed")
    batch_a.coalesce(1).write.parquet(seed)
    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema).parquet(seed), corpus
        )
        .option("checkpointLocation", str(tmp_path / "cr_ck0"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    pre_ids = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}

    # simulate the crash: batch B's band rows reach the sidecar (the
    # first of the two writes), the corpus append never happens
    (
        _band_frame(_signatures(batch_b))
        .withColumn(
            "band_bucket",
            F.pmod(F.xxhash64("b", "bkey"), F.lit(DEDUP_BAND_BUCKETS)),
        )
        .coalesce(1)
        .write.mode("append")
        .partitionBy("band_bucket")
        .parquet(bands)
    )

    # the replay: batch B arrives again under a fresh checkpoint
    src = str(tmp_path / "cr_src")
    batch_b.coalesce(1).write.parquet(src)
    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src), corpus
        )
        .option("checkpointLocation", str(tmp_path / "cr_ck1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    readmitted = got - pre_ids
    assert readmitted, "replayed batch was swallowed by its own orphan sidecar rows"
    # the replay admits exactly what a clean (no-orphan) run would have:
    # batch B minus genuine near-dups of batch A / within batch B
    clean_corpus = str(tmp_path / "cr_corpus_clean")
    for ck, source in (("cr_ck2a", seed), ("cr_ck2b", src)):
        qc = (
            sp.write_dedup_gated(
                spark.readStream.schema(d.schema).parquet(source), clean_corpus
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        qc.processAllAvailable()
        qc.stop()
    clean = {
        r.doc_id for r in spark.read.parquet(clean_corpus).select("doc_id").collect()
    }
    assert got == clean, "replay admitted a different set than a clean run"


def test_dedup_gate_backfill_regates_pre_upgrade_docs(spark, sf_dir, tmp_path):
    """Round-9 ADVICE medium, the exact hole: a legacy (sidecar-less)
    corpus, then a batch of NEW docs (which under the buggy behavior
    created a sidecar holding only its own band rows), then a batch
    duplicating a PRE-UPGRADE corpus doc. The duplicate must still be
    rejected — i.e. the sidecar the upgrade batch installed covers the
    whole legacy corpus, not just the docs accepted since."""
    import shutil

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    legacy = d.filter(F.col("doc_id") % 7 == 0)
    fresh = d.filter(F.col("doc_id") % 7 == 3)
    src = str(tmp_path / "bf_src")
    # file 1: fresh docs (the upgrade batch); file 2: exact duplicates of
    # the legacy corpus under NEW doc_ids (shifted far past the id range)
    fresh.coalesce(1).write.parquet(src)
    legacy.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000)).coalesce(
        1
    ).write.mode("append").parquet(src)
    corpus = str(tmp_path / "bf_corpus")
    bands = corpus + "_bands"

    # seed the legacy corpus through the gate, then strip its sidecar to
    # simulate the pre-sidecar layout
    seed_src = str(tmp_path / "bf_seed")
    legacy.coalesce(1).write.parquet(seed_src)
    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema).parquet(seed_src), corpus
        )
        .option("checkpointLocation", str(tmp_path / "bf_ck0"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    shutil.rmtree(bands)

    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            corpus,
        )
        .option("checkpointLocation", str(tmp_path / "bf_ck1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    legacy_ids = {r.doc_id for r in legacy.select("doc_id").collect()}
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    # the legacy corpus is intact, the upgrade batch accepted (fresh docs
    # may individually be organic near-dups of legacy docs, so only
    # membership — not completeness — is asserted for them), and NO
    # shifted-id exact duplicate of a legacy doc slipped in
    assert legacy_ids <= got
    assert got - legacy_ids, "upgrade batch accepted nothing"
    assert (got - legacy_ids) <= fresh_ids
    assert not {i for i in got if i >= 10_000_000}, (
        "pre-upgrade corpus docs were not re-gated after the sidecar upgrade"
    )


def test_gk_insert_kernel_edge_batches():
    """Spark-free edges of the sorted-splice kernel: an empty batch is a
    no-op, a single value into empty state is exact, all-duplicate
    batches conserve mass, and a batch whose values all tie stored
    values splices AFTER them (bisect_right semantics) while keeping the
    summary value-ordered and the invariant intact."""
    import math

    import pandas as pd

    eps = sp.GK_EPS

    def batch(vals, start=0):
        return pd.DataFrame(
            {"ts": range(start, start + len(vals)),
             "event_id": range(start, start + len(vals)),
             "value": vals}
        )

    assert sp._gk_insert_batch([], 0, batch([]), eps) == []
    tup, n = sp._gk_insert_batch([], 0, batch([5.0]), eps), 1
    assert tup == [[5.0, 1, 0]]
    # all-duplicates, several batches: mass conserved, order kept
    for k in range(4):
        tup = sp._gk_insert_batch(tup, n, batch([5.0] * 100, start=100 * k), eps)
        n += 100
    assert sum(t[1] for t in tup) == 401
    vs = [t[0] for t in tup]
    assert vs == sorted(vs)
    bound = max(1, int(math.floor(2 * eps * n)))
    assert all(g + d <= bound for _, g, d in tup[1:])
    # ties against stored values plus straddling values
    tup = sp._gk_insert_batch(tup, n, batch([4.0, 5.0, 6.0], start=999), eps)
    assert sum(t[1] for t in tup) == 404
    vs = [t[0] for t in tup]
    assert vs == sorted(vs) and vs[0] == 4.0 and vs[-1] == 6.0
    # new global min and max took delta 0 (extremes anchor the range)
    assert tup[0][2] == 0 and tup[-1][2] == 0


def test_hll_kernel_accuracy_and_merge_identity():
    """Spark-free HLL kernel: Ertl-estimator accuracy within 3x the
    published standard error (1.04/sqrt(4096) ~ 1.6%) across six orders
    of magnitude — including the n ~ 2.5m transition zone where the
    classic corrected estimator carries a bias hump — plus the exact
    merge identity: element-wise max of two sketches equals the sketch
    of the concatenated stream, register for register (max is
    associative/commutative/idempotent), so the cross-shard merge adds
    ZERO error over a single global sketch."""
    import numpy as np

    rng = np.random.default_rng(3)
    m = 1 << sp.HLL_B
    for pool in (1, 10, 150, 5_000, 10_000, 50_000, 500_000):
        ids = rng.choice(np.arange(pool, dtype=np.int64) * 7919 + 13,
                         size=max(pool, 10) * 2)
        true_n = len(np.unique(ids))
        regs = np.zeros(m, dtype=np.uint8)
        sp._hll_update(regs, ids)
        est = sp._hll_estimate(regs)
        tol = max(3 * 1.04 / (m ** 0.5), 0.05 / true_n)  # tiny-n: ±0.05 abs
        assert abs(est - true_n) / true_n <= tol, (pool, true_n, est)
    # merge identity (exact, not statistical)
    a = rng.integers(0, 10**9, 30_000).astype(np.int64)
    b = rng.integers(0, 10**9, 30_000).astype(np.int64)
    r1 = np.zeros(m, np.uint8); sp._hll_update(r1, a)
    r2 = np.zeros(m, np.uint8); sp._hll_update(r2, b)
    r12 = np.zeros(m, np.uint8); sp._hll_update(r12, np.concatenate([a, b]))
    assert np.array_equal(np.maximum(r1, r2), r12)
    assert sp.hll_merged_distinct([r1.tobytes(), r2.tobytes()]) == sp._hll_estimate(r12)
    # idempotence under replay: folding the same batch twice is a no-op
    r1b = r1.copy(); sp._hll_update(r1b, a)
    assert np.array_equal(r1, r1b)
    # register-width mismatch is loud
    import pytest as _pytest
    with _pytest.raises(ValueError, match="register width"):
        sp.hll_merged_distinct([r1.tobytes(), r1.tobytes()[: m // 2]])
    # empty sketch estimates zero
    assert sp._hll_estimate(np.zeros(m, np.uint8)) == 0.0


def test_streaming_distinct_hll_per_shard_and_global_union(spark, sf_dir, tmp_path):
    """The streaming HLL op: per-shard estimates within the error bound
    of the exact per-shard distinct user counts, and the merged global
    estimate within bound of the TRUE global distinct — which is far
    below the sum of per-shard distincts (shards are by event_id, so
    user populations overlap almost completely; a disjoint-sum 'merge'
    would be ~shards x too high), proving the register-max union is
    doing real work."""
    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_distinct_hll(ev), "hll_out", "update")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    rows = spark.sql(
        """SELECT * FROM hll_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM hll_out GROUP BY shard)"""
    ).collect()
    assert len(rows) == sp.HLL_SHARDS
    events = load_events(spark, sf_dir).select("event_id", "user_id")
    truth = {
        r.s: r.n
        for r in events.groupBy((F.col("event_id") % sp.HLL_SHARDS).alias("s"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    tol = 3 * 1.04 / ((1 << sp.HLL_B) ** 0.5)
    for r in rows:
        assert abs(r.estimate - truth[r.shard]) / truth[r.shard] <= tol
    true_global = events.select("user_id").distinct().count()
    merged = sp.hll_merged_distinct([r.regs for r in rows])
    assert abs(merged - true_global) / true_global <= tol
    # the merge is a union, not a sum: overlapping shards make the sum
    # of per-shard distincts a gross overcount of the global answer
    assert sum(truth.values()) > 1.5 * true_global


@pytest.mark.slow
def test_write_global_distinct_live_pipeline(spark, sf_dir, tmp_path):
    """The operationalized HLL merge: register stream -> foreachBatch
    union -> parquet time series. The last row's estimate must sit
    within the error bound of the TRUE global distinct user count, its
    n_total must equal the full event count, the series must grow
    monotonically in n_total, and compaction must bound the file count."""
    import glob as _glob

    ev = _events_stream(spark, sf_dir, tmp_path, n_files=6)
    out = str(tmp_path / "gd_out")
    q = (
        sp.write_global_distinct(
            sp.streaming_distinct_hll(ev), out, compact_every=2
        )
        .option("checkpointLocation", str(tmp_path / "gd_ck"))
        .start()
    )
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    series = sorted(spark.read.parquet(out).collect(), key=lambda r: r.batch_id)
    assert {r.batch_id for r in series} == set(range(6))
    n_tot = [r.n_total for r in series]
    assert n_tot == sorted(n_tot)  # registers only absorb, never forget
    events = load_events(spark, sf_dir)
    assert n_tot[-1] == events.count()
    true_global = events.select("user_id").distinct().count()
    tol = 3 * 1.04 / ((1 << sp.HLL_B) ** 0.5)
    assert abs(series[-1].estimate - true_global) / true_global <= tol
    assert len(_glob.glob(os.path.join(out, "part-*"))) <= 3


def test_cms_kernel_bounds_and_merge_identity():
    """Spark-free CMS kernel: estimates NEVER undercount (every
    occurrence increments every one of the key's cells), overcounts obey
    the classic (e/width)*n bound for all but ~e^-depth of keys, and the
    merge identity is EXACT: element-wise sum of two tables equals the
    table of the concatenated stream (per-cell increments are additive),
    so the cross-shard merge carries the single-sketch guarantee at the
    global n with zero widening."""
    import math

    import numpy as np

    rng = np.random.default_rng(11)
    # zipf-ish skew: a few heavy keys over a long tail
    keys = (rng.zipf(1.3, 200_000) % 50_000).astype(np.int64)
    true = {int(k): int(c) for k, c in zip(*np.unique(keys, return_counts=True))}
    shape = (sp.CMS_DEPTH, 1 << sp.CMS_W_BITS)
    tab = np.zeros(shape, dtype=np.int64)
    sp._cms_update(tab, keys)
    probe = np.array(sorted(true, key=true.get, reverse=True)[:200], dtype=np.int64)
    est = sp._cms_query(tab, probe)
    n = keys.size
    bound = math.e / (1 << sp.CMS_W_BITS) * n
    over = [int(e) - true[int(k)] for k, e in zip(probe, est)]
    assert all(o >= 0 for o in over), "CMS undercounted"
    within = sum(o <= bound for o in over) / len(over)
    assert within >= 0.95, f"only {within:.0%} of keys within the e/w*n bound"
    assert max(over) <= 3 * bound
    # absent keys estimate at most the collision bound, never negative
    absent = np.arange(60_000, 60_050, dtype=np.int64)
    est_absent = sp._cms_query(tab, absent)
    assert (est_absent >= 0).all() and (est_absent <= 3 * bound).all()
    # merge identity (exact, not statistical)
    a, b = keys[:120_000], keys[120_000:]
    t1 = np.zeros(shape, np.int64); sp._cms_update(t1, a)
    t2 = np.zeros(shape, np.int64); sp._cms_update(t2, b)
    t12 = np.zeros(shape, np.int64); sp._cms_update(t12, keys)
    assert np.array_equal(t1 + t2, t12)
    merged = sp.cms_merged_counts([t1.tobytes(), t2.tobytes()], probe)
    single = sp._cms_query(t12, probe)
    assert merged == {int(k): int(v) for k, v in zip(probe, single)}
    # table-size mismatch is loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="table size"):
        sp.cms_merged_counts([t1.tobytes(), t1.tobytes()[:128]], probe)
    # empty batch is a no-op
    t1b = t1.copy()
    sp._cms_update(t1b, np.array([], dtype=np.int64))
    assert np.array_equal(t1, t1b)


def test_streaming_freq_cms_per_shard_and_global_sum(spark, sf_dir, tmp_path):
    """The streaming CMS op: per-shard estimates bracket the exact
    per-shard frequencies ([true, true + bound]), and the element-wise
    SUM merge answers global per-key frequencies within the
    single-sketch bound at the global n — the additive twin of the HLL
    union test (shards are by event_id, so every shard holds a slice of
    every user's events and only the MERGED answer is meaningful)."""
    import math

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_freq_cms(ev), "cms_out", "update")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    rows = spark.sql(
        """SELECT * FROM cms_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM cms_out GROUP BY shard)"""
    ).collect()
    assert len(rows) == sp.CMS_SHARDS
    events = load_events(spark, sf_dir).select("event_id", "user_id")
    top = [
        r.user_id
        for r in events.groupBy("user_id").count()
        .orderBy(F.desc("count"), "user_id").limit(20).collect()
    ]
    # per-shard: never undercounts, overcount within the shard-n bound
    import numpy as np

    for r in rows:
        shard_true = {
            t.user_id: t.cnt
            for t in events.filter(F.col("event_id") % sp.CMS_SHARDS == r.shard)
            .groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
        }
        tab = np.frombuffer(bytes(r.tab), dtype=np.int64).reshape(
            sp.CMS_DEPTH, 1 << sp.CMS_W_BITS
        )
        est = sp._cms_query(tab, np.array(top, dtype=np.int64))
        bound = math.e / (1 << sp.CMS_W_BITS) * r.shard_n
        for k, e in zip(top, est):
            t = shard_true.get(k, 0)
            assert t <= e <= t + max(3 * bound, 1), (r.shard, k, t, int(e))
    # global: sum-merge within the bound at the GLOBAL n
    true_global = {
        t.user_id: t.cnt
        for t in events.groupBy("user_id").agg(F.count("*").alias("cnt"))
        .collect()
    }
    n_total = sum(r.shard_n for r in rows)
    assert n_total == events.count()
    merged = sp.cms_merged_counts([r.tab for r in rows], top)
    g_bound = math.e / (1 << sp.CMS_W_BITS) * n_total
    for k in top:
        t = true_global[k]
        assert t <= merged[k] <= t + max(3 * g_bound, 1), (k, t, merged[k])


@pytest.mark.slow
def test_write_global_freq_live_pipeline_and_restart_carry(spark, sf_dir, tmp_path):
    """The CMS live pipeline: per-batch global frequency rows for a
    fixed probe set, n_total monotone and ending at the full stream
    count, every estimate bracketing its true global frequency within
    the single-sketch bound at the global n, file count bounded by
    compaction — then a RESTART with a shard-0-only tail file proves the
    persisted carry: the first post-restart row still covers every
    pre-restart shard's table."""
    import glob as _glob
    import math
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    events = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    top = [
        r.user_id
        for r in load_events(spark, sf_dir).groupBy("user_id").count()
        .orderBy(F.desc("count"), "user_id").limit(10).collect()
    ]
    src = str(tmp_path / "gf_src")
    out = str(tmp_path / "gf_out")
    ck = str(tmp_path / "gf_ck")
    _write_time_sliced(load_events(spark, sf_dir), src, 4)

    def run():
        ev = sp.read_events_stream(spark, src, max_files=1)
        q = (
            sp.write_global_freq(sp.streaming_freq_cms(ev), out, top,
                                 compact_every=2)
            .option("checkpointLocation", ck)
            .start()
        )
        _drain(q)

    run()
    series = sorted(spark.read.parquet(out).collect(),
                    key=lambda r: (r.batch_id, r.key))
    n_by_batch = sorted({(r.batch_id, r.n_total) for r in series})
    assert [b for b, _ in n_by_batch] == list(range(4))
    assert [n for _, n in n_by_batch] == sorted(n for _, n in n_by_batch)
    total = load_events(spark, sf_dir).count()
    assert n_by_batch[-1][1] == total
    true = {
        r.user_id: r.cnt
        for r in load_events(spark, sf_dir).groupBy("user_id")
        .agg(F.count("*").alias("cnt")).collect()
    }
    bound = math.e / (1 << sp.CMS_W_BITS) * total
    last = {r.key: r.estimate for r in series if r.batch_id == 3}
    for k in top:
        assert true[k] <= last[k] <= true[k] + max(3 * bound, 1)
    assert len(_glob.glob(os.path.join(out, "part-*"))) <= 3

    # restart: one more file touching ONLY CMS shard 0 (event_id % 4 == 0),
    # brand-new query object -> fresh driver memory -> carry must hydrate
    rows2 = [
        (1_000_000 + 4 * i, (1_800_000_000_000_000_000 + i * 1_000_000_000),
         int(top[0]), "click", 1.0, "{}")
        for i in range(50)
    ]
    _time.sleep(1.1)
    spark.createDataFrame(rows2, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    series2 = sorted(spark.read.parquet(out).collect(), key=lambda r: r.batch_id)
    assert series2[-1].n_total == total + len(rows2), (
        "pre-restart shards' tables missing from the post-restart merge"
    )
    last2 = {r.key: r.estimate for r in series2 if r.batch_id == series2[-1].batch_id}
    g_bound = math.e / (1 << sp.CMS_W_BITS) * (total + len(rows2))
    t0 = true[top[0]] + len(rows2)
    assert t0 <= last2[top[0]] <= t0 + max(3 * g_bound, 1)


@pytest.mark.slow
def test_write_global_reservoir_live_pipeline_and_restart_carry(
    spark, sf_dir, tmp_path
):
    """The reservoir live pipeline (the fifth global-sketch sink): per
    micro-batch the series holds the global top-k-by-priority sample,
    which the deterministic priority makes EXACTLY checkable — the last
    batch's rows must equal the batch-computed top-k over every event
    seen, element for element (the reservoir_merged identity, end to
    end through the carry). n_total is monotone and ends at the stream
    total; the file count obeys the compaction bound; a restart with a
    shard-0-only tail file proves the persisted carry: the post-restart
    sample still draws from every pre-restart shard's reservoir."""
    import glob as _glob
    import time as _time

    import numpy as np

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    src = str(tmp_path / "gr_src")
    out = str(tmp_path / "gr_out")
    ck = str(tmp_path / "gr_ck")
    _write_time_sliced(load_events(spark, sf_dir), src, 4)

    def run():
        ev = sp.read_events_stream(spark, src, max_files=1)
        q = (
            sp.write_global_reservoir(
                sp.streaming_reservoir_sample(ev), out, compact_every=2
            )
            .option("checkpointLocation", ck)
            .start()
        )
        _drain(q)

    def expected_topk(ids: np.ndarray) -> list[int]:
        ids = np.unique(ids)
        pri = sp._rsv_priority(ids)
        keep = np.lexsort((ids, pri))[-sp.RSV_CAPACITY:]
        order = sorted(
            zip(pri[keep].tolist(), ids[keep].tolist()), reverse=True
        )
        return [e for _, e in order]

    run()
    series = spark.read.parquet(out).collect()
    n_by_batch = sorted({(r.batch_id, r.n_total) for r in series})
    assert [b for b, _ in n_by_batch] == list(range(4))
    assert [n for _, n in n_by_batch] == sorted(n for _, n in n_by_batch)
    all_ids = (
        load_events(spark, sf_dir)
        .select("event_id").toPandas()["event_id"].to_numpy(np.int64)
    )
    assert n_by_batch[-1][1] == len(np.unique(all_ids)) or (
        n_by_batch[-1][1] == len(all_ids)
    )  # shard_n counts arrivals; the sample itself keys on unique ids
    last = sorted(
        (r for r in series if r.batch_id == 3),
        key=lambda r: (-r.priority, -r.event_id),
    )
    assert [r.event_id for r in last] == expected_topk(all_ids), (
        "the live global sample diverged from the batch-computed "
        "deterministic top-k — the merge identity broke end to end"
    )
    assert len(_glob.glob(os.path.join(out, "part-*"))) <= 3

    # restart: a tail file touching ONLY reservoir shard 0 (event_id %
    # RSV_SHARDS == 0) with ids engineered into the global top-k; a
    # brand-new query object means fresh driver memory, so the other
    # shards' sampled events can only come from the hydrated carry
    tail_ids = [4 * i for i in range(1_000_000, 1_000_050)]
    rows2 = [
        (eid, 1_800_000_000_000_000_000 + i * 1_000_000_000,
         7, "click", 1.0, "{}")
        for i, eid in enumerate(tail_ids)
    ]
    _time.sleep(1.1)
    spark.createDataFrame(rows2, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    series2 = spark.read.parquet(out).collect()
    last_bid = max(r.batch_id for r in series2)
    last2 = sorted(
        (r for r in series2 if r.batch_id == last_bid),
        key=lambda r: (-r.priority, -r.event_id),
    )
    want2 = expected_topk(np.concatenate([all_ids, np.array(tail_ids)]))
    assert [r.event_id for r in last2] == want2, (
        "post-restart sample diverged — pre-restart shards' reservoirs "
        "missing from the merge (carry not hydrated?)"
    )
    # the non-shard-0 members of the expected sample prove the carry
    assert any(e % sp.RSV_SHARDS != 0 for e in want2)


def test_reservoir_kernel_identities_and_uniformity():
    """Spark-free reservoir kernel: the deterministic hash-priority
    design gives EXACT identities — folding A then B equals folding
    A++B, replaying a batch is a set-level no-op, and the merge of two
    reservoirs' unions equals the single-stream reservoir element for
    element — plus statistical sanity: the unweighted sample is spread
    uniformly across the id range, and the weighted variant
    oversamples heavy items in proportion."""
    import numpy as np

    k = 128
    eids = np.arange(100_000, dtype=np.int64) * 7 + 3
    uids = (eids % 977).astype(np.int64)
    vals = np.ones(eids.size, dtype=np.float64)

    def fold(batches, weighted=False):
        res = {}
        for sl in batches:
            sp._rsv_update(res, eids[sl], uids[sl], vals[sl], k, weighted)
        return res

    whole = fold([slice(None)])
    split = fold([slice(0, 30_000), slice(30_000, None)])
    assert whole == split, "batch-split changed the reservoir"
    replay = fold([slice(None), slice(0, 50_000)])
    assert whole == replay, "replay changed the reservoir"
    # merge identity: top-k of the union of two reservoirs == whole
    ra = fold([slice(0, 30_000)])
    rb_res = {}
    sp._rsv_update(rb_res, eids[30_000:], uids[30_000:], vals[30_000:], k, False)
    union = dict(ra)
    union.update(rb_res)
    top = dict(sorted(union.items(), key=lambda kv: (kv[1][0], kv[0]),
                      reverse=True)[:k])
    assert top == whole
    # uniformity: each quarter of the id range holds a fair share
    ids = np.array(sorted(whole), dtype=np.int64)
    q = np.searchsorted(ids, [eids[25_000], eids[50_000], eids[75_000]])
    counts = np.diff(np.concatenate([[0], q, [len(ids)]]))
    assert (counts >= k // 4 - 20).all() and (counts <= k // 4 + 20).all(), counts
    # weighted: items with weight 9 vs 1 dominate ~9:1
    w = np.where(eids % 2 == 0, 9.0, 1.0)
    rw = {}
    sp._rsv_update(rw, eids, uids, w, 500, True)
    heavy = sum(1 for e in rw if e % 2 == 0) / 500
    assert 0.80 <= heavy <= 0.98, heavy
    # non-positive weights are loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strictly positive"):
        sp._rsv_priority(eids[:4], np.array([1.0, 0.0, 2.0, 3.0]))


def test_reservoir_weighted_replay_conflicting_value_first_wins():
    """A replayed event_id arriving in a LATER batch with a different
    weighted value must not perturb the reservoir: the resident entry
    (first occurrence) wins, so the sample set and the stored
    (priority, user, value) triples are byte-identical to the clean
    run — the replay-invariance the docstring promises, across batches,
    not just within one."""
    import numpy as np

    k = 64
    eids = np.arange(2_000, dtype=np.int64)
    uids = eids % 31
    vals = np.full(eids.size, 5.0)
    clean: dict = {}
    sp._rsv_update(clean, eids, uids, vals, k, True)
    perturbed = dict(clean)
    # replay every id with a conflicting (much heavier) value — would
    # re-key every priority under latest-wins
    sp._rsv_update(perturbed, eids, uids, vals * 100.0, k, True)
    assert perturbed == clean, "conflicting-value replay perturbed the sample"


def test_streaming_reservoir_sample_matches_batch_exactly(spark, sf_dir, tmp_path):
    """The streaming reservoir op: per-shard reservoirs and the merged
    global sample equal the BATCH-computed top-k by the same
    deterministic priority, element for element — the exactness the
    hash-priority design promises (no distributional hand-waving), which
    also makes the op checkpoint-split-independent by construction."""
    import numpy as np

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_reservoir_sample(ev), "rsv_out", "update")
    _drain(q)
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    rows = spark.sql(
        """SELECT * FROM rsv_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM rsv_out GROUP BY shard)"""
    ).collect()
    shards = {r.shard for r in rows}
    assert shards == set(range(sp.RSV_SHARDS))
    events = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    pdf = events.toPandas()
    eids = pdf["event_id"].to_numpy(np.int64)
    pri = sp._rsv_priority(eids)
    order = sorted(zip(pri.tolist(), eids.tolist()), reverse=True)
    # per-shard equality
    for s in shards:
        mine = [e for _, e in order if e % sp.RSV_SHARDS == s][: sp.RSV_CAPACITY]
        got = {r.event_id for r in rows if r.shard == s}
        assert got == set(mine[: len(got)])
    # global merge == batch top-k over ALL events
    merged = sp.reservoir_merged(rows)
    want = [e for _, e in order[: sp.RSV_CAPACITY]]
    assert [e for e, _, _, _ in merged] == want
    # total event coverage recorded
    assert sum({r.shard: r.shard_n for r in rows}.values()) == events.count()


from hypothesis import given, settings as _hyp_settings  # noqa: E402
from hypothesis import strategies as _st  # noqa: E402


@given(
    keys=_st.lists(_st.integers(min_value=-(2**40), max_value=2**40),
                   min_size=1, max_size=400),
    cut=_st.integers(min_value=0, max_value=400),
)
@_hyp_settings(max_examples=60, deadline=None)
def test_cms_properties_random_streams_and_splits(keys, cut):
    """Hypothesis property over the pure CMS kernel: for ANY key stream
    and ANY batch split, (a) folding the parts and summing the tables
    equals folding the whole — the exact merge identity the cross-shard
    pipeline rests on; (b) every point estimate >= the true count
    (never-undercount is deterministic, not distributional)."""
    import numpy as np

    ks = np.array(keys, dtype=np.int64)
    cut = min(cut, ks.size)
    shape = (sp.CMS_DEPTH, 1 << sp.CMS_W_BITS)
    whole = np.zeros(shape, np.int64)
    sp._cms_update(whole, ks)
    t1 = np.zeros(shape, np.int64)
    t2 = np.zeros(shape, np.int64)
    sp._cms_update(t1, ks[:cut])
    sp._cms_update(t2, ks[cut:])
    assert np.array_equal(t1 + t2, whole)
    uq, cnt = np.unique(ks, return_counts=True)
    est = sp._cms_query(whole, uq)
    assert (est >= cnt).all()


@given(
    eids=_st.lists(_st.integers(min_value=0, max_value=2**48),
                   min_size=1, max_size=300),
    k=_st.integers(min_value=1, max_value=64),
    cut=_st.integers(min_value=0, max_value=300),
)
@_hyp_settings(max_examples=60, deadline=None)
def test_reservoir_properties_random_streams_and_splits(eids, k, cut):
    """Hypothesis property over the pure reservoir kernel: for ANY event
    stream (duplicates included), ANY capacity, and ANY batch split —
    fold(whole) == fold(parts) == fold(whole + replayed prefix), the
    merged top-k of two independent reservoirs equals the single-stream
    reservoir, every survivor's priority is in (0,1), and the reservoir
    holds exactly min(k, #unique) events."""
    import numpy as np

    ids = np.array(eids, dtype=np.int64)
    uids = (ids % 101).astype(np.int64)
    vals = np.ones(ids.size, dtype=np.float64)
    cut = min(cut, ids.size)

    def fold(slices):
        res = {}
        for sl in slices:
            sp._rsv_update(res, ids[sl], uids[sl], vals[sl], k, False)
        return res

    whole = fold([slice(None)])
    assert whole == fold([slice(0, cut), slice(cut, None)])
    assert whole == fold([slice(None), slice(0, cut)])
    ra, rb = fold([slice(0, cut)]), fold([slice(cut, None)])
    union = dict(ra)
    union.update(rb)
    top = dict(sorted(union.items(), key=lambda kv: (kv[1][0], kv[0]),
                      reverse=True)[:k])
    assert top == whole
    assert len(whole) == min(k, len(np.unique(ids)))
    assert all(0.0 < v[0] < 1.0 for v in whole.values())


def test_exact_dedup_gate_rejects_dups_prunes_and_replays(spark, sf_dir, tmp_path):
    """The exact gate end to end: (1) cross-batch duplicates — byte-exact
    AND case/punctuation variants under normalized=True — are rejected
    while novel docs land; (2) within a batch the smallest doc_id per
    digest wins; (3) a full replay under a fresh checkpoint appends
    nothing (the digest-partitioned corpus is its own idempotence
    mechanism — no sidecar, no crash-ordering window); (4) the probe is
    partition-pruned at both the plan and measured-I/O level."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table
    from akkastreamprocessnpmpackagedependencies_spark.sources.io import (
        scan_files_read,
        scan_has_partition_filter,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 4 == 1)
    src = str(tmp_path / "eg_src")
    # file 1: base docs; file 2: SHOUTED variants of base (normalized
    # dups, ids +1M), a byte-exact copy (+2M), and novel docs (%4==2)
    base.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    (
        base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.upper("text"))
        .unionByName(
            base.limit(5).withColumn("doc_id", F.col("doc_id") + 2_000_000)
        )
        .unionByName(d.filter(F.col("doc_id") % 4 == 2))
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )
    corpus = str(tmp_path / "eg_corpus")

    def run(ck):
        q = (
            sp.write_exact_dedup_gated(
                spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                corpus,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run("eg_ck1")
    got = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    # the base slice may itself contain ORGANIC normalized duplicates
    # (it does at sf0.1: docs 669/1641 normalize identically), so the
    # expected admissions from batch 1 are the min-doc_id keeper of each
    # normalized-digest group — computed with the gate's own rule
    from akkastreamprocessnpmpackagedependencies_spark.functions.text import norm_expr

    base_keepers = {
        r.keeper
        for r in base.withColumn(
            "h", F.sha2(F.coalesce(norm_expr(F.col("text")), F.lit("")), 256)
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"))
        .collect()
    }
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    novel_ids = {
        r.doc_id for r in d.filter(F.col("doc_id") % 4 == 2).select("doc_id").collect()
    }
    assert base_keepers <= got
    assert (got & base_ids) == base_keepers, (
        "batch 1 must admit exactly one keeper per normalized-digest group"
    )
    # no uppercase variant and no byte-exact copy slipped in
    assert not {i for i in got if i >= 1_000_000}
    # novel docs admitted except organic exact/normalized dups of base or
    # of each other — every admitted novel id is genuinely novel:
    admitted_novel = got - base_ids
    assert admitted_novel and admitted_novel <= novel_ids
    n_before = spark.read.parquet(corpus).count()
    assert n_before == len(got)  # one row per admitted doc

    # (3) replay everything under a fresh checkpoint: nothing new
    run("eg_ck2")
    assert spark.read.parquet(corpus).count() == n_before

    # (4) pruned probe, plan + measured I/O
    probe = spark.read.parquet(corpus).filter(F.col("dig_bucket").isin([0, 1]))
    assert scan_has_partition_filter(probe, "dig_bucket")
    pruned = scan_files_read(probe)
    full = scan_files_read(spark.read.parquet(corpus))
    assert pruned < full

    # within-batch min-doc_id rule: feed one batch holding an internal dup
    solo_src = str(tmp_path / "eg_solo")
    one = d.filter(F.col("doc_id") % 4 == 3).limit(3)
    one.unionByName(
        one.withColumn("doc_id", F.col("doc_id") + 5_000_000)
    ).coalesce(1).write.parquet(solo_src)
    solo_corpus = str(tmp_path / "eg_solo_corpus")
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(solo_src), solo_corpus
        )
        .option("checkpointLocation", str(tmp_path / "eg_ck3"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    solo_ids = {
        r.doc_id for r in spark.read.parquet(solo_corpus).select("doc_id").collect()
    }
    assert solo_ids == {r.doc_id for r in one.collect()}, (
        "within-batch dedup must keep the smallest doc_id variant"
    )


def test_exact_dedup_gate_raw_mode_admits_normalized_variants(spark, sf_dir, tmp_path):
    """normalized=False gates on byte-exact text only: a case-variant of
    an accepted doc must be ADMITTED (it is a different byte string),
    while a byte-exact copy is still rejected."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(10)
    import time as _time

    src = str(tmp_path / "rg_src")
    d.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    (
        d.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.upper("text"))
        .unionByName(d.limit(3).withColumn("doc_id", F.col("doc_id") + 2_000_000))
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )
    corpus = str(tmp_path / "rg_corpus")
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            corpus,
            normalized=False,
        )
        .option("checkpointLocation", str(tmp_path / "rg_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    upper_ids = {i for i in got if 1_000_000 <= i < 2_000_000}
    # case variants whose uppercased text is genuinely new bytes: admitted
    assert upper_ids, "raw mode wrongly rejected byte-distinct variants"
    # byte-exact copies: rejected
    assert not {i for i in got if i >= 2_000_000}


def test_driver_parquet_write_roundtrip_and_empty(spark, tmp_path):
    """The driver-side carry writer: every DDL type the carry schemas
    use round-trips through a Spark read (long / double / binary /
    array<long> / array<double>), an empty row list yields a readable
    zero-row table with the right schema, and the atomic-swap variant
    replaces prior contents without leftovers."""
    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        _atomic_overwrite_rows,
        _driver_write_parquet,
        table_exists,
    )

    p = str(tmp_path / "dw")
    sch = (
        "shard long, x double, b binary, vs array<double>, gs array<long>"
    )
    rows = [(1, 2.5, b"\x00\xff", [1.0, 2.0], [3, 4])]
    _driver_write_parquet(spark, rows, sch, p)
    r = spark.read.parquet(p).collect()[0]
    assert (r.shard, r.x, bytes(r.b), list(r.vs), list(r.gs)) == (
        1, 2.5, b"\x00\xff", [1.0, 2.0], [3, 4],
    )
    p2 = str(tmp_path / "dw_empty")
    _driver_write_parquet(spark, [], sch, p2)
    empty = spark.read.parquet(p2)
    assert empty.count() == 0
    assert set(empty.columns) == {"shard", "x", "b", "vs", "gs"}
    # atomic swap replaces and cleans up
    _atomic_overwrite_rows(spark, rows, sch, p2)
    _atomic_overwrite_rows(spark, [(2, 1.0, b"", [], [])], sch, p2)
    got = spark.read.parquet(p2).collect()
    assert len(got) == 1 and got[0].shard == 2
    assert not table_exists(spark, p2 + "__compact_tmp")
    assert not table_exists(spark, p2 + "__compact_old")


def test_swap_recover_discards_corrupt_temp_instead_of_promoting(spark, tmp_path):
    """Review finding (round 10): a crash MID-WRITE of the very first
    carry persist leaves a truncated temp and no live path; promoting it
    would wedge every subsequent hydration on a corrupt sidecar. The
    recovery step must validate by reading and DELETE an unreadable
    temp (nothing existed to lose), while a complete temp is still
    promoted."""
    import os

    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        _atomic_overwrite_rows,
        _swap_recover,
        table_exists,
    )

    live = str(tmp_path / "carry")
    tmp = live + "__compact_tmp"
    # corrupt temp: a directory holding a truncated non-parquet part file
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x01trunc")  # magic but no footer
    _swap_recover(spark, live)
    assert not table_exists(spark, live), "corrupt temp was promoted"
    assert not table_exists(spark, tmp), "corrupt temp was left behind"
    # ...and the pipeline writes cleanly afterwards
    _atomic_overwrite_rows(
        spark, [(1, 2)], "shard long, shard_n long", live
    )
    assert spark.read.parquet(live).collect()[0].shard == 1
    # a COMPLETE temp (the genuine mid-swap window) is still promoted
    import shutil

    shutil.move(live, tmp)
    _swap_recover(spark, live)
    assert table_exists(spark, live) and not table_exists(spark, tmp)
    assert spark.read.parquet(live).collect()[0].shard_n == 2


def test_stream_stream_left_outer_join_semantics(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream join, emission semantics pinned exactly:
    (a) every MATCHED pair the batch join produces is emitted; (b) an
    UNMATCHED purchase is emitted null-padded iff the final global
    watermark passed its last possible match time (its own timestamp) —
    purchases newer than that stay buffered on a bounded replay; (c) no
    row is emitted both matched and null-padded."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    ev = _events_stream(spark, sf_dir, tmp_path)
    joined = sp.purchases_with_optional_signup(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "signup"),
    )
    q = sp.run_to_memory(
        joined, "ss_louter_out", "append", checkpoint=str(tmp_path / "lo_ck")
    )
    _drain(q)
    rows = spark.sql("SELECT * FROM ss_louter_out").collect()
    got_matched = sorted(
        (r.purchase_id, r.user_id, r.purchase_ts, r.signup_ts)
        for r in rows
        if r.signup_ts is not None
    )
    got_null = {r.purchase_id for r in rows if r.signup_ts is None}

    e = load_events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    matched = p.join(
        s,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    want_matched = sorted(
        (r.purchase_id, r.p_user, r.purchase_ts, r.signup_ts)
        for r in matched.collect()
    )
    assert want_matched and got_matched == want_matched

    # Watermark timing: state eviction in batch N uses the watermark
    # computed from batches < N, so rows only provably expire against
    # the watermark derived from the SECOND-TO-LAST file's max event
    # time; between that and the true final watermark is an
    # indeterminate zone (depends on whether a trailing watermark-only
    # batch ran). The test therefore pins three determinate regions:
    # ts < lo_cutoff MUST emit null-padded, ts >= hi_cutoff MUST stay
    # buffered, and nothing may emit both shapes.
    import datetime as _dt

    from pyspark.sql.window import Window as _W

    sliced = e.select(
        F.ntile(4).over(_W.orderBy("ts")).alias("slice"), "ts"
    )
    max3 = sliced.filter(F.col("slice") <= 3).agg(F.max("ts")).collect()[0][0]
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    lo_cutoff = max3 - _dt.timedelta(hours=2)
    hi_cutoff = max_ts - _dt.timedelta(hours=2)
    unmatched_ts = {
        r.purchase_id: r.purchase_ts
        for r in p.join(matched.select("purchase_id"), "purchase_id", "left_anti")
        .select("purchase_id", "purchase_ts")
        .collect()
    }
    unmatched = set(unmatched_ts)
    must_emit = {i for i, t in unmatched_ts.items() if t < lo_cutoff}
    must_hold = {i for i, t in unmatched_ts.items() if t >= hi_cutoff}
    assert must_emit, "fixture must have watermark-expired unmatched rows"
    assert must_hold, "fixture must have tail rows still inside the delay"
    assert got_null <= unmatched, "null row emitted for a matched purchase"
    assert must_emit <= got_null, (
        f"expired rows never emitted: {sorted(must_emit - got_null)[:5]}"
    )
    assert not (must_hold & got_null), (
        f"buffered rows emitted early: {sorted(must_hold & got_null)[:5]}"
    )
    assert not (got_null & {m[0] for m in want_matched})


@pytest.mark.slow
def test_left_outer_join_terminal_flush_reaches_batch_parity(spark, sf_dir, tmp_path):
    """Round-10 verdict #5: the terminal-flush pattern. A bounded replay
    through the outer join normally holds the watermark-tail in state
    (pinned above); appending end-of-stream SENTINEL events whose time
    lies beyond every purchase's match-possible bound advances the
    global watermark past the whole stream, and the UNMODIFIED operator
    then emits EXACTLY the batch left join, row for row — the sentinels
    themselves provably never emit (distinct reserved users, own ts
    above the final watermark; a query-side sentinel filter would be
    pushed below the watermark node and defeat the flush, see
    append_watermark_sentinels). Two sentinel files are appended (1h
    apart) so the flush is deterministic: eviction in batch N uses the
    watermark computed from batches < N, so the second sentinel batch
    flushes state advanced by the first without relying on a trailing
    no-data micro-batch."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    e = load_events(spark, sf_dir)
    src = str(tmp_path / "tf_src")
    _write_time_sliced(e, src, 4)
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    base_ns = int(max_ts.timestamp() * 1_000_000) * 1000
    # beyond max_ts + 2h (the larger watermark delay) + 1h horizon
    for k in (4, 5):
        _time.sleep(1.1)  # distinct mtimes: sentinels must be the last batches
        sp.append_watermark_sentinels(spark, src, base_ns + k * 3_600_000_000_000)
    ev = sp.read_events_stream(spark, src, max_files=1)
    joined = sp.purchases_with_optional_signup(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "signup"),
    )
    q = sp.run_to_memory(
        joined, "ss_flush_out", "append", checkpoint=str(tmp_path / "tf_ck")
    )
    _drain(q)
    got = sorted(
        (r.purchase_id, r.user_id, r.purchase_ts, r.signup_ts)
        for r in spark.sql("SELECT * FROM ss_flush_out").collect()
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    want = sorted(
        (r.purchase_id, r.p_user, r.purchase_ts, r.signup_ts)
        for r in p.join(
            s,
            (F.col("p_user") == F.col("s_user"))
            & (F.col("signup_ts") <= F.col("purchase_ts"))
            & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        ).collect()
    )
    assert want and got == want, (
        f"terminal flush != batch left join: got {len(got)} rows, "
        f"want {len(want)}"
    )
    assert all(r[1] >= 0 for r in got), "a sentinel row leaked into the output"


def test_bloom_kernel_identities_and_fpr():
    """Spark-free Bloom kernel: NO false negatives (every inserted key
    queries True), the element-wise OR of two filters is BYTE-IDENTICAL
    to the filter of the concatenated stream, replay is a bit-level
    no-op, and the observed false-positive rate on disjoint absent keys
    tracks the classic (1 - e^{-kn/m})^k curve."""
    import math

    import numpy as np

    nb = sp.BLOOM_BITS >> 3
    ids = np.arange(200_000, dtype=np.int64) * 13 + 7
    a = np.zeros(nb, np.uint8)
    b = np.zeros(nb, np.uint8)
    whole = np.zeros(nb, np.uint8)
    sp._bloom_update(a, ids[:120_000])
    sp._bloom_update(b, ids[120_000:])
    sp._bloom_update(whole, ids)
    assert bytes(a | b) == bytes(whole), "OR-merge != single filter"
    replay = whole.copy()
    sp._bloom_update(replay, ids[:50_000])
    assert bytes(replay) == bytes(whole), "replay changed the filter"
    assert sp._bloom_query(whole, ids).all(), "false negative"
    absent = np.arange(100_000, dtype=np.int64) * 13 + 8  # disjoint residues
    fpr = float(sp._bloom_query(whole, absent).mean())
    bound = (1 - math.exp(-sp.BLOOM_K * ids.size / sp.BLOOM_BITS)) ** sp.BLOOM_K
    assert fpr <= 3 * bound + 1e-4, (fpr, bound)
    # mismatched configurations refuse to merge
    import pytest as _pytest

    with _pytest.raises(ValueError, match="do not merge"):
        sp.bloom_merged_bits([bytes(8)])


@pytest.mark.parametrize("sketch", ["bloom", "cms", "hll"])
def test_packed_sketch_width_check(spark, monkeypatch, sketch):
    """A packed blob of another width raises ValueError in the sketch's
    state load and in its merge; the right width loads and merges. The
    load is the one ``_packed_sketch`` hands ``_sharded_sketch``,
    captured without starting a stream."""
    import numpy as np

    op, spec, merge = {
        "bloom": (sp.streaming_seen_bloom, sp._BLOOM_SPEC, sp.bloom_merged_bits),
        "cms": (
            sp.streaming_freq_cms, sp._CMS_SPEC,
            lambda blobs: sp.cms_merged_counts(blobs, [1]),
        ),
        "hll": (sp.streaming_distinct_hll, sp._HLL_SPEC, sp.hll_merged_distinct),
    }[sketch]
    got = {}
    monkeypatch.setattr(
        sp, "_sharded_sketch", lambda ev, shard, cols, **kw: got.update(kw)
    )
    op(None)
    good = got["dump"](got["init"]())[0]
    assert len(good) == np.zeros(spec[1], spec[0]).nbytes
    assert got["load"](good).shape == spec[1]
    merge([good, good])
    for bad in (good[: len(good) // 2], good + bytes(8)):
        with pytest.raises(ValueError, match="do not merge"):
            got["load"](bad)
        with pytest.raises(ValueError, match="do not merge"):
            merge([good, bad])


def test_streaming_seen_bloom_matches_batch_and_merges_exactly(spark, sf_dir, tmp_path):
    """The streaming Bloom op: each shard's final bit array equals the
    batch-computed filter of its event slice BYTE FOR BYTE (state folds
    are order/batch-split independent — bit-setting commutes), the OR
    merge equals the single filter of the whole stream, and membership
    over the merge has no false negatives for any user in the data."""
    import numpy as np

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    ev = _events_stream(spark, sf_dir, tmp_path)
    q = sp.run_to_memory(sp.streaming_seen_bloom(ev), "bloom_out", "update")
    _drain(q)
    rows = spark.sql(
        """SELECT * FROM bloom_out
           WHERE (shard, shard_n) IN
                 (SELECT shard, max(shard_n) FROM bloom_out GROUP BY shard)"""
    ).collect()
    assert len(rows) == sp.BLOOM_SHARDS
    events = load_events(spark, sf_dir).select("event_id", "user_id")
    nb = sp.BLOOM_BITS >> 3
    whole = np.zeros(nb, np.uint8)
    for r in rows:
        shard_ids = np.array(
            [
                t.user_id
                for t in events.filter(
                    F.col("event_id") % sp.BLOOM_SHARDS == r.shard
                ).collect()
            ],
            dtype=np.int64,
        )
        assert r.shard_n == shard_ids.size
        want = np.zeros(nb, np.uint8)
        sp._bloom_update(want, shard_ids)
        assert bytes(r.bits) == bytes(want), f"shard {r.shard} filter differs"
        sp._bloom_update(whole, shard_ids)
    merged = sp.bloom_merged_bits([r.bits for r in rows])
    assert bytes(merged) == bytes(whole), "shard OR != single global filter"
    users = np.array(
        [t.user_id for t in events.select("user_id").distinct().collect()],
        dtype=np.int64,
    )
    assert sp._bloom_query(merged, users).all(), "false negative on the merge"
    ans = sp.bloom_might_contain(
        [r.bits for r in rows], [int(users[0]), int(users.max()) + 999_983]
    )
    assert ans[int(users[0])] is True


@pytest.mark.slow
def test_write_global_bloom_live_pipeline_and_restart_carry(spark, sf_dir, tmp_path):
    """The Bloom live pipeline on the shared skeleton: per-batch
    membership rows for a fixed probe set (present users True from
    their first batch onward — never regressing to False, the
    no-false-negative guarantee live; absent probes False throughout at
    this fill), n_total ending at the stream count, fill_ratio
    monotone, file count bounded by compaction — then a restart with a
    shard-0-only tail file proves the persisted carry covers every
    pre-restart shard."""
    import glob as _glob
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_events

    users = sorted(
        r.user_id
        for r in load_events(spark, sf_dir).select("user_id").distinct().collect()
    )
    absent = [max(users) + 1_000_003, max(users) + 2_000_003]
    probes = [users[0], users[len(users) // 2], users[-1], *absent]
    src = str(tmp_path / "gb_src")
    out = str(tmp_path / "gb_out")
    ck = str(tmp_path / "gb_ck")
    _write_time_sliced(load_events(spark, sf_dir), src, 4)

    def run():
        ev = sp.read_events_stream(spark, src, max_files=1)
        q = (
            sp.write_global_bloom(sp.streaming_seen_bloom(ev), out, probes,
                                  compact_every=2)
            .option("checkpointLocation", ck)
            .start()
        )
        _drain(q)

    run()
    series = sorted(spark.read.parquet(out).collect(),
                    key=lambda r: (r.batch_id, r.key))
    assert {r.batch_id for r in series} == set(range(4))
    total = load_events(spark, sf_dir).count()
    assert max(r.n_total for r in series) == total
    last = {r.key: r for r in series if r.batch_id == 3}
    for u in probes[:3]:
        assert last[u].seen is True, f"present user {u} reads False"
    for a in absent:
        assert last[a].seen is False, (
            f"absent probe {a} reads True at fill {last[a].fill_ratio:.4f}"
        )
    fills = [f for _, f in sorted({(r.batch_id, r.fill_ratio) for r in series})]
    assert all(x <= y + 1e-12 for x, y in zip(fills, fills[1:]))
    assert 0.0 < last[probes[0]].fill_ratio < 0.5
    # seen never regresses once True (bit-setting is monotone)
    by_key: dict = {}
    for r in series:
        by_key.setdefault(r.key, []).append((r.batch_id, r.seen))
    for u in probes[:3]:
        flags = [s for _, s in sorted(by_key[u])]
        first_true = flags.index(True)
        assert all(flags[first_true:]), f"user {u} regressed to unseen"
    assert len(_glob.glob(os.path.join(out, "part-*"))) <= 3
    # restart: a tail file touching ONLY bloom shard 0 (event_id % 4 == 0)
    rows2 = [
        (2_000_000 + 4 * i, (1_800_000_000_000_000_000 + i * 1_000_000_000),
         int(absent[0]), "click", 1.0, "{}")
        for i in range(40)
    ]
    _time.sleep(1.1)
    spark.createDataFrame(rows2, sp.EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    series2 = sorted(spark.read.parquet(out).collect(), key=lambda r: r.batch_id)
    last_batch = series2[-1].batch_id
    last2 = {r.key: r for r in series2 if r.batch_id == last_batch}
    assert last2[absent[0]].n_total == total + len(rows2), (
        "pre-restart shards' filters missing from the post-restart merge"
    )
    # the previously-absent probe flipped True via the restart batch,
    # while the pre-restart users survive the carry as True
    assert last2[absent[0]].seen is True
    for u in probes[:3]:
        assert last2[u].seen is True, "carry lost a pre-restart shard's bits"
    assert last2[absent[1]].seen is False


def test_exact_dedup_gate_bloom_prefilter_equivalence_and_probe_skip(
    spark, sf_dir, tmp_path, monkeypatch
):
    """bloom_prefilter=True must change the gate's ECONOMICS, never its
    answers: (1) on a stream with cross-batch normalized duplicates and
    novel docs, the admitted corpus is IDENTICAL to the plain gate's;
    (2) a full replay admits nothing new (replayed rows read maybe-seen
    and fall back to the exact probe); (3) the persisted sidecar is a
    superset of the corpus (every admitted digest key queries True);
    (4) the scale claim, pinned mechanically: a batch of all-new docs
    NEVER reads the corpus — proven by corrupting every corpus part
    file in place and streaming an all-new batch, which must succeed."""
    import glob as _glob
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    # evaluate the prefilter from the first batch on
    monkeypatch.setattr(sp, "BLOOM_PREFILTER_MIN_RATIO", 0.0)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 4 == 1)
    src = str(tmp_path / "bg_src")
    base.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    (
        base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.upper("text"))
        .unionByName(d.filter(F.col("doc_id") % 4 == 2))
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )

    def run(corpus, ck, **kw):
        q = (
            sp.write_exact_dedup_gated(
                spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                corpus,
                **kw,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    plain = str(tmp_path / "bg_plain")
    bloomed = str(tmp_path / "bg_bloom")
    run(plain, "bg_ck_p")
    run(bloomed, "bg_ck_b", bloom_prefilter=True)
    want = {r.doc_id for r in spark.read.parquet(plain).select("doc_id").collect()}
    got = {r.doc_id for r in spark.read.parquet(bloomed).select("doc_id").collect()}
    assert got == want, "prefilter changed the admitted set"

    # (2) full replay, fresh checkpoint: nothing new
    run(bloomed, "bg_ck_b2", bloom_prefilter=True)
    assert {
        r.doc_id for r in spark.read.parquet(bloomed).select("doc_id").collect()
    } == want

    # (3) sidecar superset invariant
    import numpy as np

    side = spark.read.parquet(bloomed + "_bloom").collect()[0]
    bits = np.frombuffer(bytes(side.bits), dtype=np.uint8)
    keys = np.array(
        [
            r.k
            for r in spark.read.parquet(bloomed)
            .select(F.xxhash64("digest").alias("k"))
            .collect()
        ],
        dtype=np.int64,
    )
    assert sp._bloom_query(bits, keys).all(), (
        "an admitted digest is missing from the persisted bloom"
    )

    # (4) all-new batch never reads the corpus: corrupt every corpus
    # part file, then stream 100 brand-new docs — only a probe-free
    # path can survive this
    for f in _glob.glob(os.path.join(bloomed, "**", "part-*"), recursive=True):
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")
    _time.sleep(1.1)
    rows = [(9_000_000 + i, f"definitely new text {i} " + "x" * (i % 7))
            for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    # control: the PLAIN path must break on the corrupted corpus (it
    # reads it every batch) — the failed batch stays uncommitted, so
    # the shared checkpoint replays it for the prefilter arm below
    import pytest as _pytest

    with _pytest.raises(Exception, match="FOREACH_BATCH|Parquet|parquet"):
        run(bloomed, "bg_ck_b")
    # the prefilter path sails through: all-new rows are bloom-negative
    # and the corpus is never opened
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            bloomed,
            bloom_prefilter=True,
        )
        .option("checkpointLocation", str(tmp_path / "bg_ck_b"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    import pyarrow.parquet as pq

    new_rows = 0
    for f in _glob.glob(os.path.join(bloomed, "**", "part-*"), recursive=True):
        try:
            new_rows += pq.read_table(f).num_rows
        except Exception:
            pass  # the corrupted originals
    assert new_rows == 100, (
        f"all-new batch admitted {new_rows}/100 rows through the "
        "probe-free path"
    )


def test_exact_dedup_gate_bloom_crash_window_is_safe(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The crash ordering: the sidecar persists BEFORE the corpus
    append, so the exposed window leaves the bloom a strict SUPERSET of
    the corpus. Reconstructed directly: a sidecar containing the keys
    of docs that never reached the corpus must not block those docs —
    they read maybe-seen, fall back to the exact probe, miss, and are
    ADMITTED (a false positive costs a probe, never data)."""
    import numpy as np

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    monkeypatch.setattr(sp, "BLOOM_PREFILTER_MIN_RATIO", 0.0)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch1 = d.filter(F.col("doc_id") % 10 == 1)
    batch2 = d.filter(F.col("doc_id") % 10 == 2)
    src = str(tmp_path / "cw_src")
    corpus = str(tmp_path / "cw_corpus")
    batch1.coalesce(1).write.parquet(src)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src),
            corpus, bloom_prefilter=True,
        )
        .option("checkpointLocation", str(tmp_path / "cw_ck1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n1 = spark.read.parquet(corpus).count()
    # reconstruct the crash: fold batch2's FUTURE digest keys into the
    # sidecar as if the sidecar write landed but the append did not
    from akkastreamprocessnpmpackagedependencies_spark.functions.text import norm_expr
    from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
        _atomic_overwrite_rows,
    )

    side = spark.read.parquet(corpus + "_bloom").collect()[0]
    bits = np.frombuffer(bytes(side.bits), dtype=np.uint8).copy()
    future = np.array(
        [
            r.k
            for r in batch2.select(
                F.xxhash64(
                    F.sha2(F.coalesce(norm_expr(F.col("text")), F.lit("")), 256)
                ).alias("k")
            ).collect()
        ],
        dtype=np.int64,
    )
    sp._bloom_update(bits, future)
    _atomic_overwrite_rows(
        spark, [(bits.tobytes(), 99)], "bits binary, last_batch long",
        corpus + "_bloom",
    )
    # now the "replay": batch2 arrives; every row is bloom-positive but
    # absent from the corpus — all its keepers must be admitted
    import time as _time

    _time.sleep(1.1)
    batch2.coalesce(1).write.mode("append").parquet(src)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src),
            corpus, bloom_prefilter=True,
        )
        .option("checkpointLocation", str(tmp_path / "cw_ck2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got2 = spark.read.parquet(corpus).count()
    keepers2 = (
        batch2.withColumn(
            "h", F.sha2(F.coalesce(norm_expr(F.col("text")), F.lit("")), 256)
        )
        .groupBy("h").agg(F.min("doc_id"))
        .join(
            spark.read.parquet(corpus).select("digest").withColumnRenamed(
                "digest", "h"
            ),
            "h", "left_semi",
        )
        .count()
    )
    # ck2 replays batch1 too (fresh checkpoint) — batch1 rows dedup
    # against the corpus; batch2 keepers that aren't organic dups of
    # batch1 must all land
    assert got2 > n1, "bloom false positives blocked genuinely new docs"
    assert keepers2 > 0


def test_exact_dedup_gate_bloom_backfills_legacy_corpus(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Enabling bloom_prefilter over a corpus that PREDATES the sidecar
    must backfill the filter from the corpus before trusting any
    negative — without it, every legacy digest reads definitely-new,
    skips the probe, and duplicates flood in. Run the plain gate, then
    re-stream the SAME docs through the bloom-prefiltered gate: zero
    admissions, and the sidecar now exists."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") % 10 == 3)
    src = str(tmp_path / "lb_src")
    corpus = str(tmp_path / "lb_corpus")
    docs.coalesce(1).write.parquet(src)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src), corpus
        )
        .option("checkpointLocation", str(tmp_path / "lb_ck1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n1 = spark.read.parquet(corpus).count()
    assert not sp.table_exists(spark, corpus + "_bloom")
    # same docs again (ids shifted so they are not self-rows), bloom on
    monkeypatch.setattr(sp, "BLOOM_PREFILTER_MIN_RATIO", 0.0)
    _time.sleep(1.1)
    docs.withColumn("doc_id", F.col("doc_id") + 3_000_000).coalesce(
        1
    ).write.mode("append").parquet(src)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src),
            corpus, bloom_prefilter=True,
        )
        .option("checkpointLocation", str(tmp_path / "lb_ck2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(corpus).count() == n1, (
        "legacy corpus digests leaked past an un-backfilled bloom"
    )
    assert sp.table_exists(spark, corpus + "_bloom")


def test_decontamination_gate_matches_batch_twin_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """write_decontaminated == the batch contamination join, streamed:
    (1) quarantine rows (doc_id, n_gram_hits) equal the exact batch
    gram-join truth on the same docs — including two INJECTED
    contaminated docs (a full benchmark copy and a single-gram
    overlap), so the hit path is exercised regardless of organic
    overlap in the synthetic corpus; (2) admitted == everything else;
    (3) a full replay (fresh checkpoint, same sinks) admits and
    quarantines nothing new (bucketed self-anti-join idempotence)."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.functions.text import word_shingles
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    N = 5
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_docs = d.filter(F.col("doc_id") < 20)
    bench_path = str(tmp_path / "dc_bench")
    n_grams = sp.write_benchmark_grams(spark, bench_docs, bench_path, n=N)
    assert n_grams > 0

    # stream = the rest + two injected contaminated docs
    full_copy = bench_docs.filter(F.col("doc_id") == 3).select(
        F.lit(9_000_001).alias("doc_id"), "text"
    )
    one_gram = bench_docs.filter(F.col("doc_id") == 5).select(
        F.lit(9_000_002).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(F.split("text", " "), 1, N), " "),
            F.lit(" zzq unrelated tail words here"),
        ).alias("text"),
    )
    stream_docs = (
        d.filter(F.col("doc_id") >= 20).unionByName(full_copy).unionByName(one_gram)
    )
    src = str(tmp_path / "dc_src")
    for part in range(3):
        stream_docs.filter(F.col("doc_id") % 3 == part).coalesce(
            1
        ).write.mode("append").parquet(src)
        _time.sleep(1.05)

    out = str(tmp_path / "dc_out")

    def run(ck):
        q = (
            sp.write_decontaminated(
                spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                bench_path, out, n=N,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run("dc_ck1")
    # batch truth: exact distinct-gram join, the contamination_ngram_hits shape
    bench_grams = spark.read.parquet(bench_path)
    truth = {
        (r.doc_id, r.n_gram_hits)
        for r in stream_docs.select(
            "doc_id", F.explode(word_shingles(F.col("text"), N)).alias("gram")
        )
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_gram_hits"))
        .collect()
    }
    assert (9_000_001 in {t[0] for t in truth}) and (9_000_002, 1) in truth
    got_q = {
        (r.doc_id, r.n_gram_hits)
        for r in spark.read.parquet(out + "_quarantine").collect()
    }
    assert got_q == truth, "quarantine verdicts diverge from the batch twin"
    got_admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    want_admitted = {r.doc_id for r in stream_docs.collect()} - {
        t[0] for t in truth
    }
    assert got_admitted == want_admitted
    # full replay: nothing new lands in either sink
    run("dc_ck2")
    assert {
        r.doc_id for r in spark.read.parquet(out).collect()
    } == want_admitted
    assert {
        (r.doc_id, r.n_gram_hits)
        for r in spark.read.parquet(out + "_quarantine").collect()
    } == truth


def test_decontamination_gate_clean_batch_never_opens_benchmark(
    spark, sf_dir, tmp_path
):
    """The exact-gate economics, pinned mechanically on the STATIC
    filter: after a gate instance has hydrated — which costs exactly
    ONE identity aggregate over the benchmark, the round-13 staleness
    validation — a batch whose grams are all bloom-negative must
    neither re-read the benchmark nor run the confirm join. Proven by
    corrupting the benchmark parquet in place UNDER A RUNNING gate
    instance: the subsequent all-new-nonsense batch sails through
    (zero suspects = the benchmark is never opened again this
    instance)."""
    import glob as _glob
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_path = str(tmp_path / "cb_bench")
    sp.write_benchmark_grams(
        spark, d.filter(F.col("doc_id") < 20), bench_path, n=5
    )
    src = str(tmp_path / "cb_src")
    out = str(tmp_path / "cb_out")
    rows = [(100 + i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i}")
            for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)

    q = (
        sp.write_decontaminated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            bench_path, out, n=5,
        )
        .option("checkpointLocation", str(tmp_path / "cb_ck"))
        .start()
    )
    q.processAllAvailable()  # first batch: hydrate-or-build + validate
    assert sp.table_exists(spark, out + "_benchbloom")
    # corrupt the benchmark IN PLACE while the instance keeps running:
    # any content read from here on fails loudly
    for f in _glob.glob(os.path.join(bench_path, "part-*")):
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")
    _time.sleep(1.05)
    rows2 = [(500 + i, f"omega{i} psi{i} chi{i} phi{i} upsilon{i} tau{i}")
             for i in range(40)]
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    q.processAllAvailable()  # clean batch against the corrupted file
    q.stop()
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert {r[0] for r in rows2} <= admitted, (
        "clean batch failed against a corrupted benchmark — the gate "
        "read a file the bloom negative should have spared"
    )


def test_decontamination_gate_stale_sidecar_rebuilds(
    spark, sf_dir, tmp_path, capsys
):
    """Round-12 ADVICE (medium): the sidecar persists the probe set's
    identity and hydration validates it against the live
    ``benchmark_grams`` content. Regenerate the benchmark from
    DIFFERENT docs while the old sidecar persists, then stream a doc
    contaminated ONLY against the NEW benchmark through a fresh gate
    instance: without the validation the stale filter's false negative
    silently ADMITS it (the exact failure the docstring's
    no-false-negative claim forbids); with it the gate warns, rebuilds,
    and quarantines. The rewritten sidecar carries the new identity."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_path = str(tmp_path / "st_bench")
    out = str(tmp_path / "st_out")
    src = str(tmp_path / "st_src")
    N = 5
    sp.write_benchmark_grams(
        spark, d.filter(F.col("doc_id") < 10), bench_path, n=N
    )
    # first instance: clean nonsense docs -> sidecar built for benchmark A
    spark.createDataFrame(
        [(900 + i, f"qq{i} ww{i} ee{i} rr{i} tt{i} yy{i}") for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    q = (
        sp.write_decontaminated(
            spark.readStream.schema(d.schema).parquet(src),
            bench_path, out, n=N,
        )
        .option("checkpointLocation", str(tmp_path / "st_ck1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    side_a = spark.read.parquet(out + "_benchbloom").collect()[0]
    # benchmark regenerated in place from DISJOINT docs (new release)
    n_new = sp.write_benchmark_grams(
        spark, d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        bench_path, n=N,
    )
    capsys.readouterr()  # drop anything emitted so far
    # second instance streams a full copy of a NEW-benchmark doc
    contaminated = (
        d.filter(F.col("doc_id") == 12)
        .select(F.lit(9_100_001).alias("doc_id"), "text")
    )
    src2 = str(tmp_path / "st_src2")
    contaminated.coalesce(1).write.parquet(src2)
    q = (
        sp.write_decontaminated(
            spark.readStream.schema(d.schema).parquet(src2),
            bench_path, out, n=N,
        )
        .option("checkpointLocation", str(tmp_path / "st_ck2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    err = capsys.readouterr().err
    assert "WARNING [decon-gate]" in err and bench_path in err, err
    quarantined = {
        r.doc_id for r in spark.read.parquet(out + "_quarantine").collect()
    }
    assert 9_100_001 in quarantined, (
        "stale sidecar admitted contamination against the regenerated "
        "benchmark — the identity validation did not rebuild"
    )
    side_b = spark.read.parquet(out + "_benchbloom").collect()[0]
    assert int(side_b.n_grams) == n_new
    assert (int(side_b.n_grams), int(side_b.grams_xor)) != (
        int(side_a.n_grams), int(side_a.grams_xor),
    )


def test_decontamination_gate_restart_survives_unreadable_benchmark(
    spark, sf_dir, tmp_path, capsys
):
    """Round-13 ADVICE (low): the identity validation had made the
    FIRST batch of every gate instance read the live benchmark, so a
    restart hard-failed if the benchmark was deleted/corrupted even
    with a valid sidecar on disk. Round 14 restores restart
    independence on the safe side: a NEW instance hydrating against an
    unreadable benchmark warns and trusts an identity-carrying sidecar
    (clean batches keep flowing); a first-ever start with no sidecar
    still fails loudly — there is nothing trustworthy to hydrate."""
    import pytest

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_path = str(tmp_path / "ub_bench")
    out = str(tmp_path / "ub_out")
    N = 5
    sp.write_benchmark_grams(
        spark, d.filter(F.col("doc_id") < 10), bench_path, n=N
    )

    def clean_src(path, base):
        spark.createDataFrame(
            [(base + i, f"jj{i} kk{i} ll{i} mm{i} nn{i} oo{i}")
             for i in range(20)],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(path)
        return path

    def run(src, ck):
        q = (
            sp.write_decontaminated(
                spark.readStream.schema(d.schema).parquet(src),
                bench_path, out, n=N,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # instance 1: builds the identity-carrying sidecar
    run(clean_src(str(tmp_path / "ub_src1"), 700), "ub_ck1")
    assert sp.table_exists(spark, out + "_benchbloom")
    # benchmark corrupted in place (unreadable, not regenerated)
    import glob as _glob

    for f in _glob.glob(os.path.join(bench_path, "part-*")):
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")
    capsys.readouterr()
    # instance 2 (the restart): hydrates from the sidecar, warns, and
    # admits the clean batch
    run(clean_src(str(tmp_path / "ub_src2"), 800), "ub_ck2")
    err = capsys.readouterr().err
    assert "unreadable" in err and "trusting" in err, err
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert set(range(800, 820)) <= admitted, (
        "restart with a valid sidecar failed to admit a clean batch "
        "against an unreadable benchmark"
    )
    # first-ever start (no sidecar) against the unreadable benchmark:
    # nothing trustworthy to hydrate -> the batch fails loudly
    src3 = clean_src(str(tmp_path / "ub_src3"), 900)
    q = (
        sp.write_decontaminated(
            spark.readStream.schema(d.schema).parquet(src3),
            bench_path, str(tmp_path / "ub_fresh_out"), n=N,
        )
        .option("checkpointLocation", str(tmp_path / "ub_ck3"))
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException):
            q.processAllAvailable()
    finally:
        q.stop()


def test_decontamination_gate_unreadable_benchmark_shingle_mismatch(
    spark, sf_dir, tmp_path
):
    """Round-14 ADVICE (medium): the trust-the-sidecar fallback for an
    unreadable benchmark must still enforce the one consistency check
    that needs NO benchmark read — ``shingle_n``. A gate restarted with
    a different n during a benchmark outage would otherwise probe a
    filter built over different-length shingles: ~zero maybe-hits, so
    contaminated docs sail through as "provably clean" with no loud
    failure (the exact confirm join only runs on suspects). The restart
    must fail loudly instead of trusting the mismatched sidecar."""
    import pytest

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_path = str(tmp_path / "sm_bench")
    out = str(tmp_path / "sm_out")
    sp.write_benchmark_grams(
        spark, d.filter(F.col("doc_id") < 10), bench_path, n=5
    )

    def clean_src(path, base):
        spark.createDataFrame(
            [(base + i, f"pp{i} qq{i} rr{i} ss{i} tt{i} uu{i}")
             for i in range(10)],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(path)
        return path

    def run(src, ck, n):
        q = (
            sp.write_decontaminated(
                spark.readStream.schema(d.schema).parquet(src),
                bench_path, out, n=n,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # instance 1 at n=5 installs the identity-carrying sidecar
    run(clean_src(str(tmp_path / "sm_src1"), 700), "sm_ck1", 5)
    assert sp.table_exists(spark, out + "_benchbloom")
    # benchmark corrupted in place
    import glob as _glob

    for f in _glob.glob(os.path.join(bench_path, "part-*")):
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")
    # restart at n=4: sidecar identity says n=5 — the fallback must
    # refuse, not trust
    src2 = clean_src(str(tmp_path / "sm_src2"), 800)
    q = (
        sp.write_decontaminated(
            spark.readStream.schema(d.schema).parquet(src2),
            bench_path, out, n=4,
        )
        .option("checkpointLocation", str(tmp_path / "sm_ck2"))
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException) as exc:
            q.processAllAvailable()
    finally:
        q.stop()
    assert "shingle" in str(exc.value).lower() or "refusing" in str(
        exc.value
    ), str(exc.value)[:500]


def test_decontamination_gate_explicit_bits_mismatch_raises(
    spark, sf_dir, tmp_path
):
    """Round-12 ADVICE (low): an explicitly passed ``bloom_bits`` that
    disagrees with a VALID hydrated sidecar's size must raise with the
    delete-the-sidecar message (the exact gate's check at its own
    hydration site) — silently keeping the old size would ignore the
    caller's ask with no signal. ``bloom_bits=None`` keeps accepting
    whatever size the sidecar holds."""
    import pytest

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_path = str(tmp_path / "bm_bench")
    out = str(tmp_path / "bm_out")
    src = str(tmp_path / "bm_src")
    sp.write_benchmark_grams(
        spark, d.filter(F.col("doc_id") < 10), bench_path, n=5
    )
    spark.createDataFrame(
        [(700 + i, f"aa{i} bb{i} cc{i} dd{i} ee{i} ff{i}") for i in range(10)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)

    def run(ck, **kw):
        q = (
            sp.write_decontaminated(
                spark.readStream.schema(d.schema).parquet(src),
                bench_path, out, n=5, **kw,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run("bm_ck1", bloom_bits=1 << 20)  # sidecar built at 2^20 bits
    with pytest.raises(Exception, match="delete the sidecar"):
        run("bm_ck2", bloom_bits=1 << 21)
    run("bm_ck3")  # auto mode accepts the hydrated size


def test_decontamination_gate_survives_all_false_positive_batches(
    spark, sf_dir, tmp_path
):
    """Round-13 volume-study regression: a SATURATED filter (forced via
    bloom_bits=64) marks every clean doc a suspect, the exact confirm
    finds nothing, and the old code appended an EMPTY frame to the
    quarantine sink — a file-less directory that crashed the NEXT
    batch's idempotence probe with UNABLE_TO_INFER_SCHEMA. Now an
    all-false-positive batch must write no quarantine at all, later
    batches must keep flowing, and a genuinely contaminated doc in a
    later batch is still caught."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench_path = str(tmp_path / "fp_bench")
    out = str(tmp_path / "fp_out")
    src = str(tmp_path / "fp_src")
    sp.write_benchmark_grams(
        spark, d.filter(F.col("doc_id") < 10), bench_path, n=5
    )
    clean = [(800 + i, f"nn{i} mm{i} kk{i} jj{i} hh{i} gg{i}")
             for i in range(20)]
    spark.createDataFrame(
        clean, "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    _time.sleep(1.05)
    spark.createDataFrame(
        [(850 + i, f"vv{i} cc{i} xx{i} zz{i} ll{i} pp{i}") for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    q = (
        sp.write_decontaminated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            bench_path, out, n=5, bloom_bits=64,
        )
        .option("checkpointLocation", str(tmp_path / "fp_ck"))
        .start()
    )
    q.processAllAvailable()  # two all-FP batches, no crash
    # a real contamination in a third batch is still caught
    _time.sleep(1.05)
    d.filter(F.col("doc_id") == 3).select(
        F.lit(9_300_001).alias("doc_id"), "text"
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert {i for i, _ in clean} <= admitted
    assert 9_300_001 not in admitted
    quarantined = {
        r.doc_id for r in spark.read.parquet(out + "_quarantine").collect()
    }
    assert quarantined == {9_300_001}


def test_gates_survive_fileless_corpus_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """Round-13 hardening (found on the decon twin): a corpus directory
    can exist with NO data files — a crash between mkdir and the first
    commit, or an all-empty first batch — and ``table_exists`` is
    rightly existence-only. Every gate probe is now schema-explicit, so
    such a directory reads as an EMPTY corpus instead of crashing
    schema inference. Pinned for the exact gate (plain + bloom-backfill
    paths) and the LSH gate (bands backfill + signature probe)."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") % 25 == 4)
    n_docs = docs.count()
    src = str(tmp_path / "fl_src")
    docs.coalesce(1).write.parquet(src)

    def fileless(path):
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    # exact gate, plain probe
    ecorpus = str(tmp_path / "fl_exact")
    fileless(ecorpus)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src), ecorpus
        )
        .option("checkpointLocation", str(tmp_path / "fl_eck"))
        .start()
    )
    _drain(q)
    assert spark.read.parquet(ecorpus).count() == n_docs

    # exact gate, bloom backfill over the file-less corpus
    monkeypatch.setattr(sp, "BLOOM_PREFILTER_MIN_RATIO", 0.0)
    bcorpus = str(tmp_path / "fl_bloom")
    fileless(bcorpus)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src),
            bcorpus, bloom_prefilter=True,
        )
        .option("checkpointLocation", str(tmp_path / "fl_bck"))
        .start()
    )
    _drain(q)
    assert spark.read.parquet(bcorpus).count() == n_docs

    # LSH gate: file-less corpus, absent bands sidecar -> empty backfill
    lcorpus = str(tmp_path / "fl_lsh")
    fileless(lcorpus)
    q = (
        sp.write_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src), lcorpus
        )
        .option("checkpointLocation", str(tmp_path / "fl_lck"))
        .start()
    )
    _drain(q)
    assert spark.read.parquet(lcorpus).count() == n_docs


@pytest.mark.parametrize("gate", ["exact", "lsh", "decon"])
def test_gate_write_shapes_share_layout_and_content(
    spark, sf_dir, tmp_path, monkeypatch, gate
):
    """Each gate's append is written in either shape: narrow
    (coalesce(1), forced by a threshold no batch reaches) and wide
    (repartition(bucket), forced by a threshold of 0). Either way the
    bucketed tables (exact corpus; LSH band sidecar; decon admitted and
    quarantine sinks) hold exactly one file per touched bucket per batch
    on the same buckets, and the gate's content is identical."""
    import glob as _glob

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") % 25 == 9)
    if gate == "exact":
        start = sp.write_exact_dedup_gated
        # (table suffix, bucket column, compared columns or None)
        tables = [("", "dig_bucket", ["doc_id", "digest", "dig_bucket"])]
    elif gate == "lsh":
        start = sp.write_dedup_gated
        tables = [("", None, ["doc_id"]), ("_bands", "band_bucket", None)]
    else:
        bench_path = str(tmp_path / "ww_bench")
        sp.write_benchmark_grams(
            spark, d.filter(F.col("doc_id") < 20), bench_path, n=5
        )
        # one contaminated + many clean docs, in ONE batch per shape
        docs = d.filter(
            (F.col("doc_id") >= 20) & (F.col("doc_id") < 60)
        ).unionByName(
            d.filter(F.col("doc_id") == 7).select(
                F.lit(9_200_001).alias("doc_id"), "text"
            )
        )

        def start(s, out):
            return sp.write_decontaminated(s, bench_path, out, n=5)

        tables = [
            ("", "doc_bucket", ["doc_id", "text", "doc_bucket"]),
            ("_quarantine", "doc_bucket", ["doc_id", "n_gram_hits", "doc_bucket"]),
        ]
    src = str(tmp_path / "ww_src")
    docs.coalesce(1).write.parquet(src)

    def layout(path, col) -> dict[str, int]:
        return {
            os.path.basename(b): len(_glob.glob(os.path.join(b, "*.parquet")))
            for b in _glob.glob(os.path.join(path, f"{col}=*"))
        }

    results = {}
    for shape, threshold in (("narrow", 10**12), ("wide", 0)):
        monkeypatch.setattr(sp, "WIDE_WRITES_ROWS", threshold)
        out = str(tmp_path / f"ww_{shape}")
        q = (
            start(spark.readStream.schema(d.schema).parquet(src), out)
            .option("checkpointLocation", str(tmp_path / f"ww_ck_{shape}"))
            .start()
        )
        _drain(q)
        results[shape] = {
            suffix: (
                col and layout(out + suffix, col),
                cols and {
                    tuple(r)
                    for r in spark.read.parquet(out + suffix).select(*cols).collect()
                },
            )
            for suffix, col, cols in tables
        }
    for suffix, col, cols in tables:
        (lay_n, rows_n), (lay_w, rows_w) = (
            results["narrow"][suffix], results["wide"][suffix]
        )
        assert rows_n == rows_w, f"content diverged between shapes in {suffix!r}"
        if col:
            assert lay_n.keys() == lay_w.keys(), suffix
            # one batch per shape -> exactly one file per touched bucket
            for lay in (lay_n, lay_w):
                assert lay and all(nf == 1 for nf in lay.values()), (suffix, lay)
    if gate == "decon":
        assert 9_200_001 in {r[0] for r in results["narrow"]["_quarantine"][1]}


def test_wide_writes_auto_switch_on_batch_row_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Each gate picks its append shape PER BATCH from the batch's row
    count, so a deployment whose micro-batches grow stops funneling every
    append through one writer task. The switch is inclusive: with
    ``WIDE_WRITES_ROWS`` set to exactly the big batch's count, the small
    batch appends narrow (coalesce(1)) and the big one wide
    (repartition(bucket)), on all THREE gates. Both shapes write the same
    layout, so the shape is observed on the frame method that
    ``_BucketedTable.write`` calls: spied, not stubbed."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    real_write = sp._BucketedTable.write
    picked: list[str] = []

    def spy_write(self, rows, n_rows, *args, **kw):
        with monkeypatch.context() as m:
            for name, shape in (("coalesce", "narrow"), ("repartition", "wide")):
                real = getattr(type(rows), name)

                def shaped(df, *a, _real=real, _shape=shape):
                    picked.append(_shape)
                    return _real(df, *a)

                m.setattr(type(rows), name, shaped)
            real_write(self, rows, n_rows, *args, **kw)

    monkeypatch.setattr(sp._BucketedTable, "write", spy_write)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    small = d.filter(F.col("doc_id") % 50 == 3)   # ~10 docs at sf0.001
    big = d.filter(F.col("doc_id") % 4 == 1)      # ~125 docs
    n_small, n_big = small.count(), big.count()
    assert n_small < n_big, (n_small, n_big)
    monkeypatch.setattr(sp, "WIDE_WRITES_ROWS", n_big)

    def run(gate, src_df, out):
        src = out + "_src"
        src_df.coalesce(1).write.parquet(src)
        q = (
            gate(spark.readStream.schema(d.schema).parquet(src), out)
            .option("checkpointLocation", out + "_ck")
            .start()
        )
        _drain(q)

    # benchmark grams from synthetic gibberish no documents row contains,
    # so ZERO docs quarantine and the decon gate makes exactly one
    # (admitted-sink) append per batch
    bench_path = str(tmp_path / "aw_bench")
    sp.write_benchmark_grams(
        spark,
        spark.createDataFrame(
            [(9_900_000, "zq xv qk jxw vvq plw mzz qqj wjx zzv kqx")],
            "doc_id long, text string",
        ),
        bench_path,
        n=5,
    )
    gates = [
        sp.write_exact_dedup_gated,
        sp.write_dedup_gated,
        lambda s, out: sp.write_decontaminated(s, bench_path, out, n=5),
    ]
    for i, gate in enumerate(gates):
        for label, src_df, expect in (
            ("small", small, "narrow"), ("big", big, "wide"),
        ):
            picked.clear()
            out = str(tmp_path / f"aw_{i}_{label}")
            run(gate, src_df, out)
            assert picked, "gate never wrote through the bucketed append"
            assert all(p == expect for p in picked), (label, picked)
            # content sanity: every streamed doc landed in the sink
            assert spark.read.parquet(out).count() == src_df.count()


def test_exact_dedup_gate_bloom_adaptive_skip_probes_until_corpus_dwarfs_batch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The adaptive skip (the evaluation's fixed jobs measured 1.39x the
    plain gate's wall at corpus == batch; ``tools/gate_arm.py`` arms
    ``plain`` and ``bloom``): while the filter's key estimate says the
    corpus is under BLOOM_PREFILTER_MIN_RATIO x the batch, the
    membership evaluation is SKIPPED — every row takes the plain exact
    probe — but the fold+persist still runs so the sidecar stays a
    superset of the corpus from the very first batch. Pinned mechanically both ways on a
    corrupted corpus: the default-ratio gate must FAIL the batch (it
    read the corpus = evaluation skipped), and a forced-evaluation
    re-run over the same checkpoint must sail through (all-new rows are
    bloom-negative = the negatives accumulated during skip mode are
    trustworthy)."""
    import glob as _glob
    import time as _time

    import numpy as np
    import pytest as _pytest

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") % 10 == 4)
    src = str(tmp_path / "as_src")
    corpus = str(tmp_path / "as_corpus")
    ck = str(tmp_path / "as_ck")
    docs.coalesce(1).write.parquet(src)

    def run():
        q = (
            sp.write_exact_dedup_gated(
                spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                corpus, bloom_prefilter=True,
            )
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()  # default ratio: corpus == batch -> skip mode throughout
    # fold ran despite the skip: every admitted digest queries True
    side = spark.read.parquet(corpus + "_bloom").collect()[0]
    bits = np.frombuffer(bytes(side.bits), dtype=np.uint8)
    keys = np.array(
        [r.k for r in spark.read.parquet(corpus)
         .select(F.xxhash64("digest").alias("k")).collect()],
        dtype=np.int64,
    )
    assert sp._bloom_query(bits, keys).all(), (
        "skip mode must still maintain the sidecar superset invariant"
    )
    # corrupt the corpus; a small all-new batch under the default ratio
    # must PROBE (and therefore fail) — n_est(corpus) < 8 x batch
    for f in _glob.glob(os.path.join(corpus, "**", "part-*"), recursive=True):
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")
    _time.sleep(1.1)
    rows = [(8_500_000 + i, f"adaptive skip novel text {i}") for i in range(50)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    # pin skip mode explicitly rather than relying on the default
    # ratio beating this corpus/batch shape — at sf0.1 test data the
    # corpus would cross the default threshold and mask the probe
    # (round-12 review finding)
    monkeypatch.setattr(sp, "BLOOM_PREFILTER_MIN_RATIO", 1e30)
    with _pytest.raises(Exception, match="FOREACH_BATCH|Parquet|parquet"):
        run()
    # same checkpoint, evaluation forced: the failed batch replays,
    # reads bloom-negative, never opens the corpus, and lands whole
    monkeypatch.setattr(sp, "BLOOM_PREFILTER_MIN_RATIO", 0.0)
    run()
    import pyarrow.parquet as pq

    new_rows = 0
    for f in _glob.glob(os.path.join(corpus, "**", "part-*"), recursive=True):
        try:
            new_rows += pq.read_table(f).num_rows
        except Exception:
            pass  # the corrupted originals
    assert new_rows == 50


def test_exact_dedup_gate_bloom_saturation_warns_once(
    spark, sf_dir, tmp_path, capsys
):
    """Round-12 verdict #6 / ADVICE: an undersized filter degrades to
    all-suspect silently — the gate must say so. Drive a 128-bit
    filter past BLOOM_FILL_WARN with one batch (~50 keys x k=4 probes
    -> fill ~0.8) and assert the warning fires exactly ONCE across two
    batches (one-shot per run), naming the sidecar and a rebuild
    size."""
    import time as _time

    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") % 10 == 5)
    src = str(tmp_path / "sw_src")
    corpus = str(tmp_path / "sw_corpus")
    docs.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    docs.withColumn("doc_id", F.col("doc_id") + 7_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    ).coalesce(1).write.mode("append").parquet(src)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            corpus, bloom_prefilter=True, bloom_bits=1 << 7,
        )
        .option("checkpointLocation", str(tmp_path / "sw_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    err = capsys.readouterr().err
    assert err.count("WARNING [bloom-gate]") == 1, err
    assert corpus + "_bloom" in err and "bloom_bits>=" in err


def test_exact_dedup_gate_bloom_expected_keys_sizes_filter(
    spark, sf_dir, tmp_path
):
    """``bloom_bits_for`` sizes the filter for an expected key count at
    ~10 bits/key rounded up to a power of two (never below the default):
    300k expected keys -> 4,194,304 bits (2^22), visible in the persisted
    sidecar blob."""
    from akkastreamprocessnpmpackagedependencies_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.filter(F.col("doc_id") % 20 == 6)
    src = str(tmp_path / "ek_src")
    corpus = str(tmp_path / "ek_corpus")
    docs.coalesce(1).write.parquet(src)
    q = (
        sp.write_exact_dedup_gated(
            spark.readStream.schema(d.schema).parquet(src),
            corpus, bloom_prefilter=True, bloom_bits=sp.bloom_bits_for(300_000),
        )
        .option("checkpointLocation", str(tmp_path / "ek_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sp.bloom_bits_for(300_000) == 1 << 22
    side = spark.read.parquet(corpus + "_bloom").collect()[0]
    assert len(bytes(side.bits)) == (1 << 22) >> 3


def test_gates_reject_bad_bloom_config_when_built(spark, tmp_path):
    """Bad Bloom configuration fails when the gate is built, naming the
    value, instead of inside the first batch's executor task (a width
    that is not a power of two) or not at all (``bloom_bits`` on an
    exact gate whose prefilter is off). Builds the gates; no stream
    starts."""
    import re

    stream = spark.readStream.format("rate").load()
    corpus, out = str(tmp_path / "corpus"), str(tmp_path / "out")
    bench = str(tmp_path / "bench")
    for bits in (1000, 0, -8, 4, (1 << 20) + 1, 1024.0, True):
        msg = re.escape(f"bloom_bits={bits!r}")
        with pytest.raises(ValueError, match=msg):
            sp.write_exact_dedup_gated(
                stream, corpus, bloom_prefilter=True, bloom_bits=bits
            )
        with pytest.raises(ValueError, match=msg):
            sp.write_decontaminated(stream, bench, out, bloom_bits=bits)
    with pytest.raises(ValueError, match="bloom_bits=1048576.*bloom_prefilter"):
        sp.write_exact_dedup_gated(stream, corpus, bloom_bits=1 << 20)
    # the smallest valid width builds on both gates
    sp.write_exact_dedup_gated(stream, corpus, bloom_prefilter=True, bloom_bits=8)
    sp.write_decontaminated(stream, bench, out, bloom_bits=8)


def test_bloom_or_of_keys_matches_single_update_any_partitioning(spark):
    """The distributed Bloom build (per-partition partials, driver OR)
    must equal one _bloom_update over the same keys REGARDLESS of
    partitioning — the identity the prefilter backfill and per-batch
    fold both lean on. Checked byte-for-byte at 1, 3, and 16 partitions,
    including empty partitions."""
    import numpy as np

    keys = [int(x) for x in (np.arange(5_000, dtype=np.int64) * 2654435761 % (1 << 62))]
    want = np.zeros(sp.BLOOM_BITS >> 3, dtype=np.uint8)
    sp._bloom_update(want, np.asarray(keys, dtype=np.int64))
    for parts in (1, 3, 16):
        df = spark.createDataFrame(
            [(k,) for k in keys], "dig_key long"
        ).repartition(parts)
        got = sp._bloom_or_of_keys(df, sp.BLOOM_BITS)
        assert bytes(got) == bytes(want), f"partitioning {parts} changed the filter"
    # empty input -> empty filter (and no mapInPandas rows at all)
    empty = sp._bloom_or_of_keys(
        spark.createDataFrame([], "dig_key long"), sp.BLOOM_BITS
    )
    assert not empty.any()


def test_fs_count_data_files_ignores_hidden_and_absent(spark, tmp_path):
    """The compaction-counter seed counts only real data files: dot/
    underscore-prefixed entries (_SUCCESS, .crc) and subdirectories do
    not count, and an absent path is 0, not an error."""
    import os as _os

    d = tmp_path / "fcd"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"x")
    (d / "part-00001.parquet").write_bytes(b"y")
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-00000.crc").write_bytes(b"c")
    _os.makedirs(d / "subdir")
    assert sp.fs_count_data_files(spark, str(d)) == 2
    assert sp.fs_count_data_files(spark, str(tmp_path / "nope")) == 0


def test_table_has_data_semantics(spark, tmp_path):
    """The round-13 gate guard, hardened one level deeper in round 14
    (round-13 ADVICE): absent and hidden-only directories read as
    data-less; a data file counts as data; a partition SUBDIRECTORY
    (the bucket-partitioned layouts, where no file sits at the root)
    counts only if something non-hidden lives INSIDE it — a crash can
    leave the partition dir itself empty, the same schema-inference
    crash shape one level down. An empty partition dir must not mask a
    populated sibling either."""
    import os as _os

    assert not sp.table_has_data(spark, str(tmp_path / "absent"))
    empty = tmp_path / "thd_empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    (empty / ".x.crc").write_bytes(b"c")
    assert not sp.table_has_data(spark, str(empty))
    flat = tmp_path / "thd_flat"
    flat.mkdir()
    (flat / "part-00000.parquet").write_bytes(b"x")
    assert sp.table_has_data(spark, str(flat))
    # empty partition dir only: the mid-commit crash leftover — reads
    # as an empty corpus, not a schema-inference crash
    parted = tmp_path / "thd_parted"
    _os.makedirs(parted / "doc_bucket=3")
    (parted / "_SUCCESS").write_bytes(b"")
    assert not sp.table_has_data(spark, str(parted))
    # a populated sibling makes the table data-bearing even when the
    # crash leftover dir sorts first
    _os.makedirs(parted / "doc_bucket=0")
    (parted / "doc_bucket=0" / ".hidden.crc").write_bytes(b"c")
    assert not sp.table_has_data(spark, str(parted))  # hidden-only inside
    (parted / "doc_bucket=7").mkdir()
    (parted / "doc_bucket=7" / "part-00000.parquet").write_bytes(b"x")
    assert sp.table_has_data(spark, str(parted))


# ------------------------------------- global-sink crash-point fuzz

# each sink as (summary_builder, sink_builder, output_mode): the summary
# stream is run ONCE per sink, in the sink's own output mode, to harvest
# its real micro-batch rows; the fuzz then drives the sink's
# foreachBatch function (_global_merge_fn) directly, so 20+ crash/restart
# cycles cost driver-side jobs, not 20+ streaming-engine starts. The
# reservoir sink's summary emits k rows per shard per batch, so it puts
# the multi-row carry through the same crash points as the one-row sinks
_FUZZ_SINKS = {
    "quantiles": (
        lambda ev: sp.streaming_quantiles_gk_summary(ev),
        lambda ev, out: sp.write_global_quantiles(
            sp.streaming_quantiles_gk_summary(ev), out, compact_every=2
        ),
        "append",
    ),
    "distinct": (
        lambda ev: sp.streaming_distinct_hll(ev),
        lambda ev, out: sp.write_global_distinct(
            sp.streaming_distinct_hll(ev), out, compact_every=2
        ),
        "update",
    ),
    "freq": (
        lambda ev: sp.streaming_freq_cms(ev),
        lambda ev, out: sp.write_global_freq(
            sp.streaming_freq_cms(ev), out, [3, 7, 424242], compact_every=2
        ),
        "update",
    ),
    "bloom": (
        lambda ev: sp.streaming_seen_bloom(ev),
        lambda ev, out: sp.write_global_bloom(
            sp.streaming_seen_bloom(ev), out, [3, 7, 424242], compact_every=2
        ),
        "update",
    ),
    "reservoir": (
        lambda ev: sp.streaming_reservoir_sample(ev),
        lambda ev, out: sp.write_global_reservoir(
            sp.streaming_reservoir_sample(ev), out, compact_every=2
        ),
        "update",
    ),
}


import pytest as _pytest_mod


@_pytest_mod.fixture(scope="module")
def _fuzz_src_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("fuzz_events"))


def _fuzz_events_src(spark, base_dir, n_files=4, per_file=100):
    """Deterministic event files with strictly increasing mtimes (file
    order == trigger order under maxFilesPerTrigger=1). Built once per
    module (the four parametrized arms share it — identical bytes)."""
    import time as _time

    src = os.path.join(base_dir, "fz_src")
    if sp.table_exists(spark, src):
        return src
    for f in range(n_files):
        rows = [
            (
                f * per_file + i,
                1_700_000_000_000_000_000
                + (f * per_file + i) * 1_000_000_000,
                (11 * (f * per_file + i)) % 97,
                "click",
                float((13 * i + f) % 101),
                "{}",
            )
            for i in range(per_file)
        ]
        spark.createDataFrame(rows, sp.EVENTS_RAW_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)
        _time.sleep(1.05)
    return src


def _fuzz_capture_cfg(spark, tmp_path, sink, monkeypatch):
    """Build the sink once with _global_merge_fn spied, capturing the
    exact config the public sink passes it — the fuzz then mints fresh
    _merge closures (== driver restarts) from it. The sink's writer is
    never started."""
    cfg = {}
    real = sp._global_merge_fn

    def spy(out_path, **kw):
        cfg.update(kw)
        return real(out_path, **kw)

    monkeypatch.setattr(sp, "_global_merge_fn", spy)
    try:
        ev = sp.read_events_stream(
            spark, str(tmp_path), max_files=1
        )  # path only shapes the (never-started) writer
        _FUZZ_SINKS[sink][1](ev, str(tmp_path / "fz_spy_out"))
    finally:
        monkeypatch.setattr(sp, "_global_merge_fn", real)
    assert cfg, "spy captured no merge config"
    return cfg, _FUZZ_SINKS[sink][2]


def _fuzz_harvest_batches(spark, src, tmp_path, sink, mode):
    """One REAL streaming run of the sink's summary stage, capturing
    each micro-batch's rows + schema — the exact frames foreachBatch
    would hand the skeleton."""
    batches = []
    ev = sp.read_events_stream(spark, src, max_files=1)

    def grab(df, bid):
        rows = df.collect()
        if rows:
            batches.append((int(bid), df.schema, rows))

    q = (
        _FUZZ_SINKS[sink][0](ev)
        .writeStream.outputMode(mode)
        .foreachBatch(grab)
        .option("checkpointLocation", str(tmp_path / f"fz_harvest_ck_{sink}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(batches) >= 4, "harvest produced too few micro-batches"
    return batches


@_pytest_mod.mark.slow
@_pytest_mod.mark.parametrize("sink", sorted(_FUZZ_SINKS))
def test_global_sink_crash_point_fuzz(spark, tmp_path, monkeypatch, sink,
                                      _fuzz_src_dir):
    """Crash-point fuzz of the global-sketch sinks' carry, append and
    compaction swaps: kill _global_merge_fn at a SEEDED RANDOM filesystem
    operation (any rename/delete of any batch — carry swap, series
    append bookkeeping, compaction swap) by making the op raise, then
    simulate the driver restart the streaming engine would perform (a
    FRESH _merge closure — hydration flag, carry, compaction counter all
    rebuilt — replaying the failed batch id with identical rows, which
    is exactly what the checkpoint guarantees) and assert across 5 seeds
    per sink (25 crash/restart cycles over the five sinks):

    1. the DISTINCT series rows equal a crash-free reference run's
       byte-for-byte (replay after an uncommitted append may duplicate
       a batch's rows — the documented idempotent-replay semantics —
       but may never change or lose a value);
    2. the series file count stays within the compact_every + 1 bound
       (the compaction counter is seeded from the series at restart);
    3. where the series carries n_total, it is non-decreasing in
       batch_id (a lost carry would dent it after a restart).
    """
    import random as _random

    src = _fuzz_events_src(spark, _fuzz_src_dir)
    cfg, mode = _fuzz_capture_cfg(spark, tmp_path, sink, monkeypatch)
    cfg["compact_every"] = 2
    batches = _fuzz_harvest_batches(spark, src, tmp_path, sink, mode)

    def run_merge(out, start_idx, merge=None):
        """Feed batches[start_idx:] through a (fresh unless given)
        closure; returns on success, raises on injected crash."""
        if merge is None:
            merge = sp._global_merge_fn(out, **cfg)
        for i in range(start_idx, len(batches)):
            bid, schema, rows = batches[i]
            try:
                merge(spark.createDataFrame(rows, schema), bid)
            except RuntimeError:
                return i  # crashed on batch i (uncommitted)
        return None

    # crash-free reference
    ref_out = str(tmp_path / "fz_ref_out")
    assert run_merge(ref_out, 0) is None
    ref_rows = {tuple(r) for r in spark.read.parquet(ref_out).collect()}
    assert ref_rows

    real_rename, real_delete = sp.fs_rename, sp.fs_delete
    for seed in range(5):
        rng = _random.Random(1000 * seed + len(sink))
        fuse = [rng.randint(1, 24)]

        def _burn(real):
            def wrapper(*a, **kw):
                if fuse[0] is not None:
                    fuse[0] -= 1
                    if fuse[0] <= 0:
                        fuse[0] = None
                        raise RuntimeError("injected crash (fuzz)")
                return real(*a, **kw)

            return wrapper

        out = str(tmp_path / f"fz_out_{sink}_{seed}")
        monkeypatch.setattr(sp, "fs_rename", _burn(real_rename))
        monkeypatch.setattr(sp, "fs_delete", _burn(real_delete))
        try:
            crashed_at = run_merge(out, 0)
        finally:
            monkeypatch.setattr(sp, "fs_rename", real_rename)
            monkeypatch.setattr(sp, "fs_delete", real_delete)
        if crashed_at is not None:  # restart: fresh closure, replay
            assert run_merge(out, crashed_at) is None
        got = spark.read.parquet(out).collect()
        assert {tuple(r) for r in got} == ref_rows, (
            f"seed {seed}: post-crash series diverged from the "
            "crash-free reference"
        )
        assert sp.fs_count_data_files(spark, out) <= 3, (
            f"seed {seed}: file-count bound (compact_every+1) broken"
        )
        if "n_total" in got[0].asDict():
            by_batch = {}
            for r in got:
                by_batch.setdefault(r.batch_id, set()).add(r.n_total)
            seq = [max(v) for _, v in sorted(by_batch.items())]
            assert seq == sorted(seq), (
                f"seed {seed}: n_total dipped after a crash/restart"
            )


def _summary_rows(sink: str, shard: int, n: int) -> list[tuple]:
    """One hand-built emission of ``sink``'s summary stage for ``shard``
    after ``n`` events, in the summary's own column order: one row for
    the GK and packed-array sketches, three sampled events for the
    reservoir. Contents depend on (shard, n), so a stale emission and a
    fresh one merge to different outputs."""
    import numpy as np

    ids = np.arange(n, dtype=np.int64) * 7 + 1000 * shard
    if sink == "quantiles":
        return [(shard, [10.0 * shard, 10.0 * shard + n], [1, n - 1], [0, 0], n)]
    if sink == "distinct":
        regs = np.zeros(1 << sp.HLL_B, dtype=np.uint8)
        sp._hll_update(regs, ids)
        return [(shard, float(n), n, regs.tobytes())]
    if sink == "freq":
        tab = np.zeros((sp.CMS_DEPTH, 1 << sp.CMS_W_BITS), dtype=np.int64)
        sp._cms_update(tab, ids % 5)
        return [(shard, n, tab.tobytes())]
    if sink == "bloom":
        bits = np.zeros(sp.BLOOM_BITS >> 3, dtype=np.uint8)
        sp._bloom_update(bits, ids % 5)
        return [(shard, n, bits.tobytes())]
    eids = [shard + sp.RSV_SHARDS * (n + j) for j in range(3)]
    pris = sp._rsv_priority(np.asarray(eids, dtype=np.int64)).tolist()
    return [(shard, e, e % 97, float(n), p, n) for e, p in zip(eids, pris)]


_SUMMARY_SCHEMAS = {
    "quantiles": sp._GK_SUMMARY_OUT_SCHEMA,
    "distinct": sp._HLL_OUT_SCHEMA,
    "freq": sp._CMS_OUT_SCHEMA,
    "bloom": sp._BLOOM_OUT_SCHEMA,
    "reservoir": sp._RSV_OUT_SCHEMA,
}

# the carry each sink wrote before its sidecar held summary rows: a
# per-sink record of (shard, sketch payload, shard_n), reservoir arrays
# for the k sampled events. Hydration reads the summary's columns by
# name, so a record holding all of them hydrates; one lacking any raises
_PRE_SUMMARY_CARRIES = {
    "quantiles": (
        "shard long, vs array<double>, gs array<long>, ds array<long>, "
        "shard_n long",
        lambda r: (r[0], r[1], r[2], r[3], r[4]),
        None,
    ),
    "distinct": ("shard long, regs binary, shard_n long",
                 lambda r: (r[0], r[3], r[2]), "estimate"),
    "freq": ("shard long, tab binary, shard_n long",
             lambda r: (r[0], r[2], r[1]), None),
    "bloom": ("shard long, bits binary, shard_n long",
              lambda r: (r[0], r[2], r[1]), None),
    "reservoir": (
        "shard long, eids array<long>, pris array<double>, "
        "uids array<long>, vals array<double>, shard_n long",
        lambda r: (r[0], [r[1]], [r[4]], [r[2]], [r[3]], r[5]),
        "event_id",
    ),
}


@_pytest_mod.mark.parametrize("sink", sorted(_FUZZ_SINKS))
def test_global_merge_fn_carries_latest_summary_rows(
    spark, tmp_path, monkeypatch, sink
):
    """Every global-sketch sink's merge function, driven directly with
    hand-built summary frames (no streaming engine): a quiet shard's
    rows keep feeding the output; a shard emitting twice in one frame
    is carried at its larger shard_n only, and a stale emission never
    replaces the carry; a fresh closure (a restart) hydrates the carry;
    the reservoir's output is ``reservoir_merged`` over the carried
    rows; and a carry written in the pre-summary-row format hydrates
    when it holds every summary column, else raises ValueError."""
    cfg, _mode = _fuzz_capture_cfg(spark, tmp_path, sink, monkeypatch)
    schema = _SUMMARY_SCHEMAS[sink]

    def frame(*emissions):
        rows = [r for s, n in emissions for r in _summary_rows(sink, s, n)]
        return spark.createDataFrame(rows, schema)

    def expected(bid, *emissions):
        rows = frame(*emissions).collect()
        n_total = sum(n for _, n in emissions)
        return rows, {tuple(t) for t in cfg["emit"](bid, rows, n_total)}

    def series(out, bid):
        return {
            tuple(r) for r in spark.read.parquet(out).collect()
            if r.batch_id == bid
        }

    out = str(tmp_path / "gm_out")
    merge = sp._global_merge_fn(out, **cfg)
    merge(frame((0, 4), (1, 6)), 0)
    assert series(out, 0) == expected(0, (0, 4), (1, 6))[1]
    # shard 1 is quiet; shard 2 emits twice in one frame
    merge(frame((0, 9), (2, 3), (2, 8)), 1)
    assert series(out, 1) == expected(1, (0, 9), (1, 6), (2, 8))[1]
    carry = spark.read.parquet(out + "_carry").collect()
    assert sorted({(r.shard, r.shard_n) for r in carry}) == [(0, 9), (1, 6), (2, 8)]
    assert len(carry) == 3 * len(_summary_rows(sink, 0, 1))

    # restart: shards 0 and 2 come only from the hydrated carry, and a
    # stale shard-0 emission does not replace it
    merge = sp._global_merge_fn(out, **cfg)
    merge(frame((1, 11), (0, 4)), 2)
    rows, want = expected(2, (0, 9), (1, 11), (2, 8))
    assert series(out, 2) == want
    if sink == "reservoir":
        assert sorted(t[1:5] for t in series(out, 2)) == sorted(
            sp.reservoir_merged(rows, sp.RSV_CAPACITY)
        )

    old_out = str(tmp_path / "gm_old_out")
    ddl, to_old, missing = _PRE_SUMMARY_CARRIES[sink]
    sp._driver_write_parquet(
        spark, [to_old(r) for r in _summary_rows(sink, 0, 5)], ddl,
        old_out + "_carry",
    )
    merge = sp._global_merge_fn(old_out, **cfg)
    if missing is None:
        merge(frame((1, 2)), 0)
        assert series(old_out, 0) == expected(0, (0, 5), (1, 2))[1]
    else:
        with _pytest_mod.raises(ValueError, match=missing) as err:
            merge(frame((1, 2)), 0)
        assert old_out + "_carry" in str(err.value)
