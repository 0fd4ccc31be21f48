"""Streaming pipelines.

The reference is a bounded stream folded to a single value emitted on
completion (reference: src/main/scala/Main.scala:82-86 ``Flow.fold``; see
SURVEY.md §1.5) — a batch job on streaming machinery. The honest Spark
analogues implemented here:

- ``streaming_dependency_counts``: the flagship query over the custom
  ``npmregistry`` source in **complete** output mode — Spark's state store
  replaces the reference's single mutable heap map
  (AccumulatedDependencyCount.scala:4), which was its scale ceiling;
- event-time operators over the ``events`` table: watermarked tumbling /
  sliding / session windows, dedup-within-watermark, and custom stateful
  operators via ``applyInPandasWithState`` — capabilities with no
  reference counterpart (no timestamps exist there at all): a per-user
  counter (plus a ``transformWithStateInPandas`` twin, protobuf-gated),
  an expiring sessionizer, and the sketches a monitoring pipeline runs
  where exact state would be unbounded — sharded Misra-Gries heavy
  hitters, Greenwald-Khanna quantiles, HyperLogLog distinct counts,
  count-min frequencies, a deterministic reservoir sample, a Bloom
  membership filter and per-key Welford anomaly detection, each with
  its deterministic guarantee asserted against batch ground truth in
  ``tests/test_streaming.py``; the counter and every sketch but Welford
  share one group-state update, ``_sharded_sketch``;
- the global-sketch sinks, this module's streaming form of the
  reference's fold: ``write_global_quantiles`` / ``_distinct`` /
  ``_freq`` / ``_bloom`` / ``_reservoir`` merge the latest per-shard
  summary rows (``gk_merged_quantiles``, ``hll_merged_distinct``,
  ``cms_merged_counts``, ``bloom_merged_bits``, ``reservoir_merged``)
  in one foreachBatch function, ``_global_merge_fn``, and append the
  global answer to a parquet time series; ``mg_global_heavy_hitters``
  is the union of key-sharded heavy-hitter summaries;
- the ingestion gates (exact digest, MinHash-LSH near-duplicate,
  decontamination), which admit only novel or clean documents to a
  bucketed corpus.

Scale notes: streaming aggs shuffle once per micro-batch on the grouping
key; the state store is partitioned the same way, so state lookups are
local. Watermarks bound state size — without them a 100 TB stream's window
state grows forever. The sketch operators' within-batch paths are
vectorized (``value_counts`` plus one batched decrement, numpy cumsum
closed forms, a sorted-batch GK splice): a per-event Python loop caps
throughput at a real event rate. ``bench.py`` times this surface (rows/s
and per-micro-batch latency, BENCH_FULL.json "streaming" section).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.npm import accumulate_counts, count_dependencies, explode_versions, parse_registry
from ..sources.registry import register

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_registry_stream(
    spark: SparkSession, rate: int = 5, docs_path: str | None = None
) -> DataFrame:
    """readStream over the custom rate-limited registry source."""
    register(spark)
    reader = spark.readStream.format("npmregistry").option("rate", rate)
    if docs_path:
        reader = reader.option("docs_path", docs_path)
    return reader.load()


def streaming_dependency_counts(stream: DataFrame) -> DataFrame:
    """The flagship pipeline on an unbounded source: same operator chain as
    batch (shared code), with the fold expressed as a streaming aggregation.
    Run with outputMode('complete') — emit-on-completion semantics for a
    bounded replay, continuous refinement for a live one."""
    ok = stream.filter(F.col("status_code") == 200)
    return accumulate_counts(count_dependencies(explode_versions(parse_registry(ok))))


def read_events_stream(spark: SparkSession, sf_dir: str, max_files: int = 1) -> DataFrame:
    """File-stream over events parquet (ns timestamps read as long, then
    converted — same convention as the batch reader)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling 1h window — append-safe: a window finalizes
    (and its state is dropped) once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def sliding_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Native session windows (the streaming form of the batch
    lag-gap-cumsum sessionization in operators/timeseries.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id: state for an id is dropped once
    the watermark passes it — bounded state, unlike a global distinct."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_STATE_SCHEMA = "n long"
_OUT_SCHEMA = "user_id long, n_events long"


def _sharded_sketch(
    events: DataFrame, shard, cols, *, init, load, fold, dump, rows,
    out_schema: str, state_schema: str, mode: str = "update",
) -> DataFrame:
    """The group-state protocol of the eight sharded-state operators:
    ``stateful_user_counts``, ``streaming_heavy_hitters``,
    ``streaming_quantiles_gk`` and ``streaming_quantiles_gk_summary``,
    ``streaming_distinct_hll``, ``streaming_freq_cms``,
    ``streaming_seen_bloom`` and ``streaming_reservoir_sample``.

    Events group by the column ``shard`` (aliased ``shard``) and carry
    ``cols``. A group's state is ``(*dump(sketch), n)``: the sketch's
    columns and the shard's event count, so ``state_schema`` ends in
    ``n long``. Per micro-batch the sketch is ``load(*saved)`` from the
    state, or ``init()`` for a new shard; each pandas chunk is folded as
    ``sketch = fold(sketch, pdf, n)``, ``n`` counting the rows before
    the chunk. The state is then updated and the operator yields
    ``rows(shard, sketch, n)``, a pandas frame in ``out_schema``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        if state.exists:
            *saved, n = state.get
            sketch, n = load(*saved), int(n)
        else:
            sketch, n = init(), 0
        for pdf in pdfs:
            sketch = fold(sketch, pdf, n)
            n += len(pdf)
        state.update((*dump(sketch), n))
        yield rows(key[0], sketch, n)

    return (
        events.select(shard.alias("shard"), *cols)
        .groupBy("shard")
        .applyInPandasWithState(
            update, out_schema, state_schema, mode, GroupStateTimeout.NoTimeout
        )
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event counter whose state survives across micro-batches (the
    idiom for operators Spark's built-in aggs can't express). Each user
    is its own shard, with no sketch beside its count."""

    def rows(user_id, _, n):
        import pandas as pd

        return pd.DataFrame({"user_id": [user_id], "n_events": [n]})

    return _sharded_sketch(
        events, F.col("user_id"), [], init=lambda: None, load=lambda: None,
        fold=lambda _, pdf, n: None, dump=lambda _: (), rows=rows,
        out_schema=_OUT_SCHEMA, state_schema=_STATE_SCHEMA,
    )


_SESSION_STATE_SCHEMA = "pending array<long>"
_SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)


def sessionize_with_expiry(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful sessionization with HONEST state expiry AND
    out-of-order correctness: per-user state is the sorted multiset of
    event times not yet finalizable. A session is FINAL only once the
    watermark passes session_end + gap — any event that could still
    arrive (ts >= watermark; older rows are dropped by the watermark
    contract) would then start a new session, so nothing can extend or
    merge it. Final sessions emit and their times leave the state; the
    trailing non-final sessions' times stay pending. An EVENT-TIME
    TIMEOUT at last_pending + gap fires once the watermark passes it
    (hasTimedOut), flushing the remainder and REMOVING the state. This
    is the piece the reference's fold-forever accumulator
    (Main.scala:82-86) and our ``stateful_user_counts`` lack: without
    timeout-driven eviction, per-key state grows monotonically.

    Why a multiset and not (start, last, n): emitting a session the
    moment a gap appears in-batch — the previous design — is wrong under
    reordering. A late-but-in-watermark event can bridge two sessions
    that a single batch's view showed as gap-separated, or extend a
    session backwards; only the watermark, never batch boundaries, makes
    a session immutable (found by review: the old merge walk let a late
    event move `last` backwards and emit end < start).

    Semantics match batch ``events_sessionize`` exactly (a silence
    STRICTLY greater than the 30-min gap starts a new session) for any
    arrival order the watermark admits. State per user is bounded by the
    events inside ~(watermark delay + gap) of the stream head — the
    price of out-of-order correctness — not by stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.timeseries import SESSION_GAP_US

    gap_us = SESSION_GAP_US

    def update(key, pdfs, state):
        import pandas as pd

        def emit(rows):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "session_end": pd.to_datetime([r[1] for r in rows], unit="us"),
                    "n_events": [r[2] for r in rows],
                }
            )

        def sessions(times):
            # vectorized gap walk: a strictly-greater-than-gap silence
            # starts a new session, the same sessions a per-element walk
            # gives (the tests check randomized and boundary cases)
            if not times:
                return []
            import numpy as np

            t = np.asarray(times, dtype=np.int64)
            brk = np.flatnonzero(np.diff(t) > gap_us) + 1
            starts = np.concatenate(([0], brk))
            ends = np.concatenate((brk, [len(t)]))
            return [
                (int(t[s]), int(t[e - 1]), int(e - s))
                for s, e in zip(starts, ends)
            ]

        if state.hasTimedOut:
            (pending,) = state.get
            state.remove()
            yield emit(sessions(sorted(pending)))
            return
        pending = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            pending.extend(pdf["ts_us"].to_numpy(dtype="int64").tolist())
        pending.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000
        walked = sessions(pending)
        # finality is a prefix property: session ends ascend, so emit the
        # prefix the watermark has sealed and retain the tail's times
        final = [s for s in walked if s[1] + gap_us < wm_us]
        if final:
            pending = [t for t in pending if t > final[-1][1]]
        if pending:
            state.update((pending,))
            # expire when the watermark passes the session gap after the
            # last pending event; never at-or-before the current watermark
            # (API contract)
            timeout_ms = max(
                (pending[-1] + gap_us) // 1000 + 1, state.getCurrentWatermarkMs() + 1
            )
            state.setTimeoutTimestamp(timeout_ms)
        elif state.exists:
            state.remove()
        if final:
            yield emit(final)

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            _SESSION_OUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def purchases_with_recent_signup(
    purchases: DataFrame, signups: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchase events matched to a signup by the
    same user within the trailing ``horizon``. Both sides carry watermarks
    and the join condition bounds signup_ts to [purchase_ts - horizon,
    purchase_ts], so Spark can expire buffered rows from the join state —
    the unbounded-state trap of stream-stream joins is exactly what the
    time bound exists to prevent."""
    p = purchases.withWatermark("ts", "30 minutes").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    s = signups.withWatermark("ts", "2 hours").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    return p.join(
        s,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "signup_ts")


def purchases_with_optional_signup(
    purchases: DataFrame, signups: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the outer twin of
    ``purchases_with_recent_signup``: every purchase appears, with
    signup columns null when no signup matched within the trailing
    ``horizon``. The null-padded row for an unmatched purchase can only
    be emitted once the GLOBAL watermark (the minimum across both
    sides) passes the last event time at which a match was still
    possible — for this join condition the purchase's own timestamp —
    because until then a matching signup may still arrive. Consequence,
    pinned by the test: on a bounded replay the tail of the stream
    (purchases within the signup side's watermark delay of the final
    event) stays buffered in state and is NOT emitted; a live stream
    flushes it as later events advance the watermark. That deferred
    emission is the honest cost of outer semantics over unbounded
    inputs, and the bounded time range is still what keeps the join
    state finite. For bounded replays that need BATCH PARITY, drain the
    held tail with the terminal-flush protocol —
    ``append_watermark_sentinels`` (a data-side pattern by necessity:
    see its docstring for why a query-side sentinel filter defeats
    itself via scan pushdown)."""
    p = purchases.withWatermark("ts", "30 minutes").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    s = signups.withWatermark("ts", "2 hours").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts")
    )
    return p.join(
        s,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(
        "purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "signup_ts"
    )


# Terminal-flush sentinel users — one per side, DISTINCT so the two
# sentinel rows can never join each other and emit (both out of the
# synthetic data's non-negative id domain; real deployments pick any
# out-of-domain keys).
JOIN_SENTINEL_PURCHASE_USER = -1
JOIN_SENTINEL_SIGNUP_USER = -2


def append_watermark_sentinels(
    spark: SparkSession, src_path: str, ts_ns: int,
) -> None:
    """The terminal-flush pattern for bounded replays through the outer
    stream-stream join: append one END-OF-STREAM
    sentinel file to a file-based events source — one 'purchase' and one
    'signup' row (both join sides consume the same source through
    event_type filters, and the global watermark is the MINIMUM across
    sides, so a sentinel reaching only one side's watermark node
    advances nothing), each under its own reserved user id, with event
    time ``ts_ns`` (nanos) beyond max_real_ts + the larger watermark
    delay.

    Why the flush is pure DATA PROTOCOL, with no query-side sentinel
    filter: any deterministic predicate excluding the sentinels —
    whether placed after ``withWatermark`` or after the join — is
    pushed by Catalyst below the EventTimeWatermark node into the
    parquet scan, where row-group min/max stats prune the sentinel file
    outright (measured: the sentinel micro-batches read 0 source rows
    and the watermark never moved). Instead the sentinels
    are constructed so they CANNOT emit: they carry distinct users so
    they never match each other (and no real user is negative), and a
    null-padded emission of the sentinel purchase would need the final
    watermark to pass the sentinel's own timestamp — impossible, since
    the sentinels themselves carry the stream's max event time and the
    watermark trails it by the delay. Two sentinel calls one gap apart
    make the flush deterministic (state eviction in batch N uses the
    watermark computed from batches < N, so the second sentinel batch
    flushes what the first advanced) without relying on a trailing
    no-data micro-batch. Result, pinned by the test: the join's output
    equals the batch left join row for row.

    At 100 TB scale this is the standard drain step of a bounded
    backfill through a streaming graph: state stays watermark-bounded
    the whole way, and the flush costs four rows."""
    rows = [
        (-1, int(ts_ns), JOIN_SENTINEL_PURCHASE_USER, "purchase", 0.0, "{}"),
        (-2, int(ts_ns), JOIN_SENTINEL_SIGNUP_USER, "signup", 0.0, "{}"),
    ]
    spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src_path)


def enrich_with_dimension(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static dimension enrichment: each micro-batch left-joins the
    unbounded event stream to a bounded dimension snapshot. The static
    side carries a broadcast hint, so the stream never shuffles — the
    canonical 100 TB shape (the fact stream stays partition-local; only
    the dimension moves to the executors). Refresh caveat: Spark
    re-EXECUTES the static subplan per micro-batch, but a path-based
    parquet DataFrame pins its FILE LISTING at creation
    (InMemoryFileIndex), so an in-place overwritten snapshot is NOT
    picked up — it serves stale rows or fails on the deleted files. For
    a refreshable dimension, re-create the DataFrame inside foreachBatch
    or read via a catalog table + ``REFRESH TABLE``. No watermark is
    needed: the static side holds no streaming state. Complements purchases_with_recent_signup (stream-stream) and
    the reference's HTTP enrichment (S5), which is this same pattern with
    the dimension behind a fetch."""
    return events.join(F.broadcast(dim), key, "left")


def table_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence check through the Hadoop FileSystem
    API. ``os.path.isdir`` is ALWAYS False for s3a://, hdfs://, abfs://
    etc., so using it here would permanently skip the first-batch branch
    on any non-local store — write_dedup_gated would never gate against
    the corpus (silent duplicate admission) and write_hourly_partitions
    would dynamically overwrite touched hours with only the batch's rows
    (silent data loss). The path
    resolves its OWN filesystem from the active Hadoop conf, so file:/,
    hdfs:// and object stores all route correctly; errors propagate (a
    transient FS failure must fail the batch, never demote to
    'table absent')."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def table_has_data(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists AND holds at least one non-hidden entry
    (a data file, or a partition subdirectory for partitionBy layouts —
    ``fs_count_data_files`` is deliberately non-recursive, so it cannot
    answer this for bucket-partitioned tables). Why the gates need it:
    a sink directory can exist FILE-LESS (crash between
    mkdir and first commit, or an all-empty batch's append), where
    ``table_exists`` is True but schema inference throws; probes gate
    on THIS check so a file-less directory reads as an empty corpus,
    while a populated-but-drifted corpus still fails loudly through
    normal schema inference (treating every read error as "empty" would
    silently re-admit the whole corpus)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    # listStatusIterator + early break, NOT listStatus: this runs per
    # micro-batch, and a long-lived unpartitioned corpus accumulates one
    # file per batch. Scope of the saving: filesystems that override the iterator (HDFS, S3A) page the listing, so the
    # early break avoids both the full array and extra LIST round-trips;
    # RawLocalFileSystem's default iterator still builds the array
    # JVM-side, where the break only saves the per-entry py4j traffic.
    # Data files usually appear within the first few entries.
    it = fs.listStatusIterator(hpath)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().startswith((".", "_")):
            continue
        if st.isFile():
            return True
        # A non-hidden DIRECTORY (a `bucket=N/` partition dir) is only
        # data if something non-hidden lives INSIDE it — a crash can
        # leave the partition dir itself empty, which crashes schema
        # inference exactly like a file-less root, so a check that
        # stops at the root misreads it. One level is the repo's
        # whole layout space (every gate partitions by a single bucket
        # column); anything non-hidden inside — file OR deeper dir —
        # counts as data, because answering "empty" when rows exist
        # deeper would silently SKIP the dedup/decon probe and admit
        # duplicates, while answering "data" on a truly file-less tree
        # only fails loudly at inference. Empty partition dirs are
        # skipped, so their siblings still get scanned.
        sub = fs.listStatusIterator(st.getPath())
        while sub.hasNext():
            if not sub.next().getPath().getName().startswith((".", "_")):
                return True
    return False


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory rename through the Hadoop FileSystem API — the atomic
    install step of the write-to-temp-then-swap idiom used by the
    sidecar backfill and the series compaction. Atomic on file:/ and
    hdfs:// (the deployment targets where crash atomicity matters);
    object stores emulate rename by copy, where the temp-then-swap still
    narrows the corruption window to the swap instead of the whole
    write. A False return (e.g. destination exists) raises — callers
    rely on the install having happened."""
    jvm = spark._jvm
    sp = jvm.org.apache.hadoop.fs.Path(src)
    fs = sp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(sp, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API (no-op when the
    path is absent) — clears swap leftovers before/after a rename."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)


def fs_count_data_files(spark: SparkSession, path: str) -> int:
    """Count the non-hidden data files directly under ``path`` through
    the Hadoop FileSystem API (0 when absent). Used to seed the
    compaction counter after a restart: without it, ``appends`` reset to
    0 every (re)start, so a stream restarted every few batches never
    reached ``compact_every`` and the series' file count grew without
    bound. Dot/underscore-prefixed entries
    (_SUCCESS, .crc sidecars) don't hold rows, so they don't count
    against the compaction bound."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return 0
    n = 0
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith((".", "_")):
            n += 1
    return n


def run_to_memory(df: DataFrame, name: str, output_mode: str, checkpoint: str | None = None):
    """Start a memory-sink query (test/driver harness helper)."""
    w = df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def read_touched_hours(spark: SparkSession, out_path: str, tagged: DataFrame) -> DataFrame:
    """Read back ONLY the hour partitions present in ``tagged`` — fully
    distributed: the batch's distinct hours stay a (tiny) DataFrame, never
    collected to the driver, and the read prunes via a broadcast LEFT SEMI
    join on the partition column, which dynamic partition pruning turns
    into a partition filter so only the touched hour directories are
    scanned (same pruning as a literal ``isin(hours)``, no driver loop).

    The trivially-true range predicate is load-bearing: Spark's
    PartitionPruning rule only plants a DPP subquery when the build side
    carries a "likely selective" filter (a BinaryComparison/In — a bare
    ``distinct()`` does not qualify), and without it the semi-join
    full-scans the table (asserted on the executed plan in
    tests/test_streaming.py::test_upsert_readback_prunes_partitions)."""
    hours_df = tagged.select("event_hour").distinct().filter(
        F.col("event_hour") >= F.to_timestamp(F.lit("1900-01-01"))
    )
    return spark.read.parquet(out_path).join(F.broadcast(hours_df), "event_hour", "leftsemi")


def write_hourly_partitions(events: DataFrame, out_path: str):
    """foreachBatch copy-on-write upsert sink: each micro-batch merges into
    hour-partitioned parquet — read the partitions the batch touches, union
    the batch, dedupe on event_id, dynamically overwrite ONLY those
    partitions. Idempotent under batch replay AND under batches that split
    an hour across triggers; this is the merge loop transactional formats
    (Delta/Iceberg) run under the hood, expressed with plain parquet +
    ``partitionOverwriteMode=dynamic``. At scale the read-back touches a
    couple of hour directories, never the table."""

    def _write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        tagged = batch.withColumn("event_hour", F.date_trunc("hour", "ts")).localCheckpoint()
        merged = tagged
        # Explicit first-batch existence check (Hadoop-FS, so s3a/hdfs
        # paths resolve too), NEVER a blanket except: swallowing a
        # transient read failure here would let the dynamic overwrite
        # below replace a touched hour partition with ONLY the batch's
        # rows — silent data loss. Any read error on an existing table
        # must fail the batch (same fix as write_dedup_gated).
        if table_exists(spark, out_path):
            # localCheckpoint materializes the read BEFORE the overwrite job
            # runs — never read and rewrite the same files in one job
            existing = read_touched_hours(spark, out_path, tagged).localCheckpoint()
            merged = tagged.unionByName(existing).dropDuplicates(["event_id"])
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("event_hour").parquet(out_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return events.writeStream.foreachBatch(_write)


# ------------------------------------------- ingestion-gate skeleton

# bucket fan-out of the LSH gate's band sidecar: wide enough that a
# batch's probe prunes most directories, small enough that local runs
# don't drown in tiny files and per-batch directory churn
DEDUP_BAND_BUCKETS = 8

# Write-shape switch of every bucketed gate append (``_BucketedTable.write``):
# below this many rows the append runs as ONE writer task (coalesce(1)),
# at or above it as one task per bucket (repartition(bucket)). Both
# shapes write the same one-file-per-touched-bucket layout, so the trade
# is the wide shape's extra shuffle stage against its parallel encode.
# Measured by tools/bench_wide_writes.py (BENCH_wide_writes.json, 64
# buckets, ~1 KiB docs, 15 interleaved reps): wide is 0.71x narrow at
# 5k rows with disjoint spreads, 0.46x at 10k, 0.31x at 25k, while at
# 1k-2.5k narrow keeps a ~5% edge. The threshold sits at the smallest
# decisive-win rung.
WIDE_WRITES_ROWS = 5_000


class _BucketedTable:
    """A parquet table partitioned by a hash bucket of its key,
    ``pmod(xxhash64(*key), n)`` in column ``col``, so the table is its
    own index: a batch's probe reads only the bucket directories its own
    keys hash into (|touched| / n of the table, not all of it), and an
    append writes one file per touched bucket."""

    def __init__(self, path: str, col: str, key: tuple[str, ...], n: int):
        self.path, self.col, self.key, self.n = path, col, key, n

    def tag(self, df: DataFrame) -> DataFrame:
        """``df`` plus its bucket column."""
        return df.withColumn(
            self.col, F.pmod(F.xxhash64(*self.key), F.lit(self.n))
        )

    def probe(self, spark: SparkSession, buckets, has_data: bool | None = None):
        """The table's rows in ``buckets`` (a list of bucket ids, or a
        frame whose bucket column names them: one distinct-collect job),
        or None while the table holds no data. ``has_data`` passes a
        ``table_has_data`` answer the caller already has for this batch.
        The guard is has-data, not existence: a crash or an all-empty
        batch can leave the directory present but file-less, where schema
        inference throws, so such a table probes as empty; a populated
        table whose schema drifted still fails the batch loudly."""
        if has_data is None:
            has_data = table_has_data(spark, self.path)
        if not has_data:
            return None
        if isinstance(buckets, DataFrame):
            buckets = [r[0] for r in buckets.select(self.col).distinct().collect()]
        return spark.read.parquet(self.path).filter(F.col(self.col).isin(buckets))

    def write(
        self, rows: DataFrame, n_rows: int | None, path: str | None = None,
        mode: str = "append",
    ) -> None:
        """Write ``rows`` (``n_rows`` of them; None for a full-table
        rewrite of unknown size) partitioned by bucket, in the shape
        ``WIDE_WRITES_ROWS`` picks."""
        narrow = n_rows is not None and n_rows < WIDE_WRITES_ROWS
        shaped = rows.coalesce(1) if narrow else rows.repartition(self.col)
        shaped.write.mode(mode).partitionBy(self.col).parquet(path or self.path)


def _observed_checkpoint(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """``df`` evaluated once by a local checkpoint, and the named
    aggregates ``aggs`` over its rows, computed by that same job as an
    ``Observation``: a gate needs no separate count or collect job to
    size, guard or prune what it does with the frame next."""
    from pyspark.sql import Observation

    obs = Observation()
    df = df.observe(obs, *[c.alias(k) for k, c in aggs.items()]).localCheckpoint()
    return df, obs.get


def bloom_bits_for(n_keys: int) -> int:
    """Bloom width in bits for ``n_keys`` expected keys: ~10 bits per
    key, the ~1% false-positive point at k=4, rounded up to a power of
    two (the probe mask needs one) and never below BLOOM_BITS."""
    return 1 << (max(BLOOM_BITS, 10 * int(n_keys)) - 1).bit_length()


def _check_bloom_bits(bloom_bits) -> None:
    """Reject a filter width the kernels cannot use when the gate is
    built, not inside the first batch's executor task."""
    if bloom_bits is None:
        return
    if (
        isinstance(bloom_bits, bool) or not isinstance(bloom_bits, int)
        or bloom_bits < 8 or bloom_bits & (bloom_bits - 1)
    ):
        raise ValueError(f"bloom_bits={bloom_bits!r} is not a power of two >= 8")


class _BloomSidecar:
    """A gate's Bloom filter, persisted as a one-row parquet sidecar
    (``bits`` plus gate-specific columns) so a restart hydrates it
    instead of rebuilding it. ``bits`` is the live packed array (None
    until hydrated or built); ``nbits`` the width the gate asks for
    (None: take the persisted width)."""

    def __init__(self, path: str, nbits: int | None):
        self.path, self.nbits, self.bits = path, nbits, None

    def load(self, spark: SparkSession):
        """The persisted row, or None when there is none, after healing
        an interrupted swap."""
        _swap_recover(spark, self.path)
        if not table_exists(spark, self.path):
            return None
        return spark.read.parquet(self.path).collect()[0]

    def adopt(self, row) -> None:
        """Make ``row``'s filter the live one. A width other than the one
        asked for raises: a filter cannot be resized in place, and
        keeping the old width would ignore the caller without a word."""
        import numpy as np

        bits = np.frombuffer(bytes(row.bits), dtype=np.uint8)
        if self.nbits is not None and bits.size << 3 != self.nbits:
            raise ValueError(
                f"bloom sidecar {self.path} holds {bits.size << 3} bits but "
                f"the gate runs {self.nbits}; delete the sidecar to rebuild "
                "at the new size"
            )
        self.bits, self.nbits = bits.copy(), bits.size << 3

    def persist(self, spark: SparkSession, extra: tuple, extra_schema: str) -> None:
        """Atomically replace the sidecar with the live filter + ``extra``."""
        _atomic_overwrite_rows(
            spark, [(self.bits.tobytes(), *extra)],
            "bits binary, " + extra_schema, self.path,
        )

    def probe(
        self, df: DataFrame, bc, key: str, cols: list[str], schema: str
    ) -> DataFrame:
        """Distinct ``cols`` of the rows of ``df`` whose int64 ``key`` the
        broadcast filter ``bc`` may hold, evaluated executor-side: the
        driver ships the filter once per broadcast and never sees keys.
        A row left out is definitely not in the filter."""
        nbits = self.nbits

        def _hits(batches):
            # local import: mapInPandas closures ship by value and must
            # not capture module globals
            import numpy as np

            from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
                _bloom_query,
            )

            filt = np.frombuffer(bc.value, dtype=np.uint8)
            assert filt.size << 3 == nbits
            for pdf in batches:
                hits = _bloom_query(filt, pdf[key].to_numpy(dtype=np.int64))
                if hits.any():
                    yield pdf.loc[hits, cols].drop_duplicates()

        return df.select(*cols, key).mapInPandas(_hits, schema=schema)


def write_dedup_gated(docs: DataFrame, corpus_path: str):
    """Near-duplicate streaming ingestion gate (banded MinHash-LSH): each
    micro-batch of documents is checked against the accepted corpus and
    within itself, and only novel documents are appended to
    ``corpus_path``. Within a batch the smallest doc_id of a duplicate
    pair wins; a doc matching the corpus is dropped. Greedy admission is
    order-dependent by design (first seen wins), and two invariants hold
    whatever the arrival order: the accepted corpus is pairwise
    non-duplicate under the LSH check, and every rejected doc had a
    match when it was rejected (tests/test_streaming.py::
    test_streaming_dedup_gated_ingestion).

    Layout: the corpus stores each doc's shingle set and minhashes, and
    its band keys live in a ``<corpus>_bands`` sidecar bucketed by band
    key (``DEDUP_BAND_BUCKETS``), so a batch's probe reads only the
    buckets its own band keys hash into and never re-shingles or
    re-bands the corpus: per-batch cost scales with |batch| x bucket
    occupancy, not |corpus|.

    Crash ordering: the sidecar is written BEFORE the corpus. A crash
    between the two leaves orphan band rows for docs that never reached
    the corpus. They surface as candidates, but the exact-Jaccard verify
    reads doc_b's signature from the corpus only, so an orphan never
    matches and the replayed batch is admitted; verifying against the
    batch's own signatures would self-match every replayed doc at 1.0
    and lose the batch. When both writes landed, the replayed doc is in
    the corpus, self-matches, and is not appended twice.

    A corpus with data but an absent or file-less sidecar (an older
    layout, or a crash after an all-empty append) gets a one-time
    backfill: the whole corpus is banded into a temp table and renamed
    into place before the probe, so every stored doc stays probeable and
    a crash mid-backfill leaves the sidecar absent for the next attempt.
    Its cost scales with the corpus, so it warns on stderr."""
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        N_HASHES,
        _band_frame,
        _signatures,
        _verify_jaccard,
    )

    bands = _BucketedTable(
        corpus_path.rstrip("/") + "_bands", "band_bucket", ("b", "bkey"),
        DEDUP_BAND_BUCKETS,
    )

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        sig_new = _signatures(batch.select("doc_id", "text")).localCheckpoint()
        # nb feeds the within-batch join, the corpus probe and the
        # sidecar append: band once
        nb = bands.tag(_band_frame(sig_new)).localCheckpoint()
        within = (
            nb.alias("x")
            .join(nb.alias("y"), ["b", "bkey"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .distinct()
        )
        drop = _verify_jaccard(
            within, sig_new, sig_new, "sh", JACCARD_THRESHOLD
        ).select(F.col("doc_b").alias("doc_id"))
        # only a corpus with no data may skip the probe; any read error
        # on a populated one must fail the batch, never admit duplicates
        if table_has_data(spark, corpus_path):
            if not table_has_data(spark, bands.path):
                print(
                    f"WARNING [dedup-gate] bands sidecar {bands.path} is "
                    f"absent or file-less while the corpus {corpus_path} "
                    "has data — running the ONE-TIME full-corpus band "
                    "backfill (cost scales with corpus size; expected "
                    "once after a layout upgrade or a crash that left "
                    "the sidecar empty)",
                    file=sys.stderr,
                )
                tmp = bands.path + "__backfill_tmp"
                corpus_mh = spark.read.parquet(corpus_path).select(
                    "doc_id", *[f"mh{h}" for h in range(N_HASHES)]
                )
                bands.write(bands.tag(_band_frame(corpus_mh)), None, tmp, "overwrite")
                # Hadoop rename onto an existing (file-less) dir would
                # nest tmp inside it: clear it first
                fs_delete(spark, bands.path)
                fs_rename(spark, tmp, bands.path)
            cross = (
                nb.alias("d")
                .join(bands.probe(spark, nb, has_data=True).alias("c"), ["b", "bkey"])
                .select(
                    F.col("d.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
                )
                .distinct()
            )
            # asymmetric verify: doc_b's signature comes from the corpus
            # only (see the crash ordering in the docstring)
            corpus_sigs = spark.read.parquet(corpus_path).select("doc_id", "sh")
            cross_dups = _verify_jaccard(
                cross, sig_new, corpus_sigs, "sh", JACCARD_THRESHOLD
            )
            drop = drop.unionByName(
                cross_dups.select(F.col("doc_a").alias("doc_id"))
            )
        keep = (
            batch.join(sig_new, "doc_id")
            .join(drop.distinct(), "doc_id", "left_anti")
            .localCheckpoint()  # decide ONCE; feeds both appends below
        )
        # sidecar first (see the crash ordering in the docstring); the
        # write shape follows the admitted doc count
        bands.write(nb.join(keep.select("doc_id"), "doc_id"), keep.count())
        keep.write.mode("append").parquet(corpus_path)

    return docs.writeStream.foreachBatch(_ingest)


def stateful_user_counts_tws(events: DataFrame) -> DataFrame:
    """The running per-user counter on Spark 4's transformWithState API —
    the structured successor of ``applyInPandasWithState`` (named state
    handles via ``StatefulProcessorHandle``: ValueState/ListState/
    MapState, TTL, timers) and the migration target for every custom
    stateful operator in this module. Semantically identical to
    ``stateful_user_counts``; the test asserts final-count equality
    where the API can run.

    Environment note (honest seam, PIL-pattern): PRESENT BUT
    UNEXECUTABLE IN THIS CONTAINER. The state-server protocol needs
    ``google.protobuf``, which this container does not ship and cannot
    obtain offline (no vendored wheel, no pip-cache hit, no network) —
    so this operator has NEVER executed here and its
    equality test is a pytest skip until an environment ships protobuf.
    The operator raises ImportError with the named dependency up
    front instead of crashing the streaming Python runner mid-query
    (verified: without the guard the query dies with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE deep in
    StateMessage_pb2). Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``)."""
    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as ex:
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf (state-server "
            "protocol); install protobuf or use stateful_user_counts "
            "(applyInPandasWithState), which is dependency-free"
        ) from ex

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _CountProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._n = handle.getValueState("n", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(_CountProcessor(), _OUT_SCHEMA, "Update", "None")
    )


MG_CAPACITY = 8  # Misra-Gries counters per shard
MG_SHARDS = 4  # state parallelism: shards x capacity counters total


def _mg_merge(mg: dict, weighted: "iterable", capacity: int) -> dict:
    """Merge per-key weighted counts into a Misra-Gries summary with the
    batched decrement (the mergeable-summaries MG merge): add every
    weight, then — if more than ``capacity`` counters remain — subtract
    the (capacity+1)-th largest count from ALL counters and keep the
    strictly positive ones. At most ``capacity`` survive (at most
    ``capacity`` counts can strictly exceed the (capacity+1)-th largest),
    and each subtracted unit is simultaneously charged against >=
    capacity+1 counters' mass, so across a stream of n events the total
    decrement — hence any key's undercount — is <= n/(capacity+1): the
    exact per-event MG guarantee, preserved order-robustly."""
    for k, w in weighted:
        k = int(k)
        mg[k] = mg.get(k, 0) + int(w)
    if len(mg) > capacity:
        sub = sorted(mg.values(), reverse=True)[capacity]
        mg = {k: c - sub for k, c in mg.items() if c > sub}
    return mg

_MG_STATE_SCHEMA = "items array<long>, counts array<long>, n long"
_MG_OUT_SCHEMA = "shard long, user_id long, mg_count long, shard_n long"


def streaming_heavy_hitters(
    events: DataFrame, capacity: int = MG_CAPACITY, shards: int = MG_SHARDS
) -> DataFrame:
    """Streaming HEAVY HITTERS via the Misra-Gries summary as a custom
    stateful operator — "which keys dominate the stream", the sketch
    analytics a 100 TB event pipeline runs continuously where exact
    per-key counts would need unbounded state.

    Sharding is the scale story: the stream groups by ``user_id %
    shards`` and each shard maintains an INDEPENDENT Misra-Gries summary
    of ``capacity`` counters in its group state — total state is the
    constant ``shards x capacity`` counters regardless of stream length
    or key cardinality (contrast ``stateful_user_counts``: one state row
    per distinct key). The decrement-all step charges every stored
    counter when a new key arrives at a full summary, which yields the
    classic deterministic guarantees PER SHARD after n events:

      mg_count <= true_count <= mg_count + n/(capacity+1),

    so every key with true frequency above n/(capacity+1) is guaranteed
    present — the invariants ``tests/test_streaming.py`` asserts against
    batch ground truth, micro-batch by micro-batch. Each update emits
    the shard's current summary tagged with its event count, so the
    latest row group per shard is the live sketch.

    Within-batch path: instead of walking events one at a time in
    Python — the operator's throughput ceiling at a real event rate —
    each pandas batch collapses
    to per-key WEIGHTED counts via ``value_counts`` (one C pass), merges
    them into the summary, and applies ONE batched decrement: subtract
    the (capacity+1)-th largest count from every counter and drop the
    non-positives. This is the classic mergeable-summaries MG merge
    (Agarwal et al., PODS'12): every unit of decrement is charged to at
    least capacity+1 counters' mass simultaneously, so the cumulative
    decrement any key absorbs stays <= n/(capacity+1) — the identical
    deterministic guarantee, order-robust, at per-batch instead of
    per-event Python cost. ``_mg_merge`` is the pure, unit-testable
    kernel."""

    def fold(mg, pdf, n):
        vc = pdf["user_id"].value_counts()
        return _mg_merge(mg, zip(vc.index, vc.to_numpy()), capacity)

    def rows(shard, mg, n):
        import pandas as pd

        return pd.DataFrame({
            "shard": [shard] * len(mg),
            "user_id": list(mg),
            "mg_count": list(mg.values()),
            "shard_n": [n] * len(mg),
        })

    return _sharded_sketch(
        events, F.col("user_id") % shards, ["user_id"], init=dict,
        load=lambda items, counts: dict(zip(items, counts)), fold=fold,
        dump=lambda mg: (list(mg), list(mg.values())), rows=rows,
        out_schema=_MG_OUT_SCHEMA, state_schema=_MG_STATE_SCHEMA,
    )


ANOM_Z = 3.0  # flag |value - mean| > z * stddev (prior-state stats)
ANOM_MIN_N = 5  # no verdicts before this many observations per user

_ANOM_STATE_SCHEMA = "n long, mean double, m2 double"
_ANOM_OUT_SCHEMA = (
    "user_id long, event_id long, value double, zscore double, n_prior long"
)


def _welford_batch(n0, mean0, m2_0, v, z, min_n):
    """The vectorized Welford batch kernel (pure, shared with the numeric
    property test): given prior state (n0, mean0, m2_0) and a batch of
    values in observation order, return (flag mask, z-scores, prior-n per
    event, new state). Unrolls the recursion to cumsums CENTERED on the
    batch's first value — with pivot p, mean_j = p + (n0*(mean0 - p) +
    cumsum(v - p)_j) / n_j, an exact algebraic identity — so offset-
    dominated regimes (|mean| >> sd) never sum raw offsets: every summed
    quantity is deviation-scale, including at stream start when the
    prior state is empty (pivoting on mean0 alone fails there — mean0 is
    0 and the first batch cancels catastrophically, measured 3.8e-8
    z-error at offset 1e6 / sd 1e-3; property-tested at offset/sd ratios
    to 1e9 within 1e-9 of the serial recursion)."""
    import numpy as np

    m = len(v)
    n_cur = n0 + np.arange(1, m + 1)
    pivot = float(v[0])
    c = v - pivot  # centered batch: all sums below are deviation-scale
    head = n0 * (mean0 - pivot)  # deviation-scale when state is warm, 0 cold
    dmean_cur = (head + np.cumsum(c)) / n_cur  # mean_j - pivot
    dmean_prev = np.concatenate(
        ([(mean0 - pivot) if n0 > 0 else 0.0], dmean_cur[:-1])
    )
    m2_cur = m2_0 + np.cumsum((c - dmean_prev) * (c - dmean_cur))
    m2_prev = np.concatenate(([m2_0], m2_cur[:-1]))
    n_prev = n_cur - 1
    var_prev = np.where(n_prev > 1, m2_prev / np.maximum(n_prev - 1, 1), 0.0)
    sd_prev = np.sqrt(np.maximum(var_prev, 0.0))
    dev_prev = c - dmean_prev  # v - mean_{j-1}, computed deviation-scale
    flag = (n_prev >= min_n) & (sd_prev > 0) & (np.abs(dev_prev) > z * sd_prev)
    with np.errstate(divide="ignore", invalid="ignore"):
        zs = np.where(flag, dev_prev / np.where(sd_prev > 0, sd_prev, 1.0), 0.0)
    state = (int(n_cur[-1]), float(pivot + dmean_cur[-1]), float(m2_cur[-1]))
    return flag, zs, n_prev, state


def streaming_value_anomalies(
    events: DataFrame, z: float = ANOM_Z, min_n: int = ANOM_MIN_N
) -> DataFrame:
    """Per-user streaming anomaly detector: each user's state is the
    Welford running (n, mean, M2) of every value seen so far; an
    arriving event is flagged when it deviates from the PRIOR state's
    mean by more than ``z`` standard deviations (prior, so an outlier
    cannot mask itself by inflating the variance it is judged against),
    with no verdicts until ``min_n`` observations exist. The recursion
    is numerically the textbook Welford update — one state row of three
    numbers per user, O(1) per event, the shape a 100 TB event pipeline
    runs as continuous monitoring where any windowed recomputation
    would re-scan history.

    Determinism contract (what the test leans on): within each
    micro-batch the update sorts a user's rows by (ts, event_id) across
    ALL arrow chunks of the group, and the file source delivers files in
    order — so the per-user observation SEQUENCE is identical to a batch
    replay ordered the same way, and the emitted z-scores match a serial
    recomputation to well under the test's 1e-9.

    Within-batch path, vectorized because a per-event Python loop caps
    throughput at a real event rate: the Welford recursion unrolled over a batch is closed-form — after
    the j-th in-batch value, n_j = n0 + j and mean_j = (n0*mean0 +
    cumsum(v)_j) / n_j, and the M2 increments (v_j - mean_{j-1}) *
    (v_j - mean_j) need only the SHIFTED running-mean array — so the
    whole per-event loop collapses to numpy cumsums plus one boolean
    mask over the prior-state statistics. Numerically this differs from
    the sequential recursion only in summation rounding (~1e-15
    relative; the serial-replay test asserts 1e-9)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            n0, mean0, m2_0 = state.get
            n0 = int(n0)
        else:
            n0, mean0, m2_0 = 0, 0.0, 0.0
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        v = pdf["value"].to_numpy(dtype=np.float64)
        if len(v) == 0:
            state.update((n0, float(mean0), float(m2_0)))
            yield pd.DataFrame(
                {k: [] for k in ("user_id", "event_id", "value", "zscore", "n_prior")}
            )
            return
        flag, zs, n_prev, (n1, mean1, m2_1) = _welford_batch(
            n0, mean0, m2_0, v, z, min_n
        )
        state.update((n1, mean1, m2_1))
        yield pd.DataFrame(
            {
                "user_id": np.full(int(flag.sum()), key[0], dtype=np.int64),
                "event_id": pdf["event_id"].to_numpy(dtype=np.int64)[flag],
                "value": v[flag],
                "zscore": zs[flag],
                "n_prior": n_prev[flag].astype(np.int64),
            }
        )

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, _ANOM_OUT_SCHEMA, _ANOM_STATE_SCHEMA, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


GK_EPS = 0.05  # rank error bound: |est_rank - target| <= eps * n
GK_PHIS = [0.1, 0.25, 0.5, 0.75, 0.9]
GK_SHARDS = 4

_GK_STATE_SCHEMA = "vs array<double>, gs array<long>, ds array<long>, n long"
_GK_OUT_SCHEMA = "shard long, phi double, estimate double, shard_n long"
_GK_SUMMARY_OUT_SCHEMA = (
    "shard long, vs array<double>, gs array<long>, ds array<long>, shard_n long"
)


def _gk_state_dump(tup: list) -> tuple:
    """The summary's (vs, gs, ds) columns."""
    return ([t[0] for t in tup], [t[1] for t in tup], [t[2] for t in tup])


def _gk_insert_batch(tup: list, n: int, pdf, eps: float) -> list:
    """Insert one pandas batch's ``value`` column into the GK summary
    (a list of (v, g, delta) tuples) as a SORTED-BATCH SPLICE (a
    per-value Python loop caps throughput at a real event rate): sort
    the batch once, vectorize the insertion positions with one
    ``searchsorted``, splice every new (v, 1, delta) tuple in with
    ``np.insert``, then run ONE left-to-right compress pass at the
    batch-final threshold. ``tup`` summarizes the ``n`` values
    seen before ``pdf``; returns the summary of all of them. Both GK
    operators fold with it, so their state evolves identically.

    Correctness shape (the tests pin it): inserting the batch in value
    order is a legal GK01 insertion order, and the k-th smallest batch
    value takes the delta of its VIRTUAL sequential insertion time,
    delta_k = floor(2*eps*(n + k + 1)) - 1 — within the invariant at the
    batch-final n (k + 1 <= batch size), and since n only grows, forever
    after. The time-staggering matters, not just the bound: giving every
    new tuple the batch-FINAL delta makes each one "full" (g + d = 2*eps*n,
    zero slack), so nothing can ever merge into it and the summary
    degenerates to O(batch) per batch (measured: 2,500 stored tuples per
    2,500-row batch, forever); staggered deltas leave tuple k slack
    ~2*eps*(B - k) at this batch's compress and a further 2*eps*B more
    each subsequent batch, reproducing the sequential algorithm's
    staleness-driven mergeability and its O((1/eps) log(eps n)) size.
    The extremes rule is preserved exactly as the sequential sorted
    insert would play it: every batch value >= the existing maximum
    lands at the end with delta 0 (each lands at the then-end), and only
    the FIRST batch value gets delta 0 at the front (the second-smallest
    inserts after it, so it is interior). Compressing once per batch
    instead of every ~1/(2 eps) inserts merges under a LARGER threshold
    (n_final), so the post-batch summary is at least as compressed;
    mid-batch the working set is O(summary + batch) — micro-batch sized,
    never stream sized.
    GK state evolution is deterministic GIVEN THE BATCH SPLIT (the
    compress points depend on the batch boundaries; the
    checkpoint-recovery test replays identical per-file batches)."""
    import numpy as np

    vals = pdf["value"].to_numpy(dtype=float)
    if vals.size == 0:
        return tup
    vals = np.sort(vals)
    n_new = n + int(vals.size)
    # virtual sequential insertion times: k-th smallest value "arrives"
    # at count n + k + 1 (see docstring for why staggering is essential)
    new_d = (
        np.floor(2 * eps * (n + np.arange(1, vals.size + 1, dtype=np.int64)))
        .astype(np.int64) - 1
    )
    np.clip(new_d, 0, None, out=new_d)
    if tup:
        keys = np.array([t[0] for t in tup], dtype=float)
        gs = np.array([t[1] for t in tup], dtype=np.int64)
        ds = np.array([t[2] for t in tup], dtype=np.int64)
        # side="right": a batch value equal to a stored value inserts
        # AFTER it — bisect_right semantics of the sequential algorithm
        pos = np.searchsorted(keys, vals, side="right")
        new_d[vals >= keys[-1]] = 0  # tail extremes, see docstring
        if pos[0] == 0:
            new_d[0] = 0  # new global minimum (first batch value only)
        m_v = np.insert(keys, pos, vals)
        m_g = np.insert(gs, pos, np.ones(vals.size, dtype=np.int64))
        m_d = np.insert(ds, pos, new_d)
    else:
        # empty summary: the sequential sorted insert gives every value
        # delta 0 (each lands at the then-end)
        m_v = vals
        m_g = np.ones(vals.size, dtype=np.int64)
        m_d = np.zeros(vals.size, dtype=np.int64)

    # one compress pass, single O(len) sweep equivalent to the previous
    # in-place cascade (merge tuple i into i+1 while the combined mass
    # fits; the first tuple is never merged away — it anchors the min)
    t = 2 * eps * n_new
    vs_l, gs_l, ds_l = m_v.tolist(), m_g.tolist(), m_d.tolist()
    out: list[list] = [[vs_l[0], gs_l[0], ds_l[0]]]
    pending = 0  # g-mass of already-absorbed left neighbors
    last = len(vs_l) - 1
    for j in range(1, len(vs_l)):
        g_here = pending + gs_l[j]
        if j < last and g_here + gs_l[j + 1] + ds_l[j + 1] <= t:
            pending = g_here  # absorbed into the right neighbor
        else:
            out.append([vs_l[j], g_here, ds_l[j]])
            pending = 0
    return out


def _gk_query(tup: list, n: int, phi: float, eps: float) -> float:
    """The GK01 QUANTILE rule over one summary of ``n`` values: answer
    the value BEFORE the first tuple whose rmax exceeds r + eps*n, where
    r = ceil(phi*n); under the GK invariant its rank is within eps*n of
    r. (A two-sided containment test is WRONG: near-boundary tuples can
    all have rmax past the band while the previous value is still in
    bounds.) NaN for an empty summary."""
    import math

    r = max(1, int(math.ceil(phi * n)))
    rmin = 0
    prev = tup[0][0] if tup else float("nan")
    for v, g, d in tup:
        rmin += g
        if rmin + d > r + eps * n:
            return prev
        prev = v
    return prev


def streaming_quantiles_gk(
    events: DataFrame, eps: float = GK_EPS, shards: int = GK_SHARDS
) -> DataFrame:
    """Streaming quantiles via the Greenwald-Khanna summary in group
    state (``_sharded_sketch``, sharded by ``user_id % shards``):
    continuous percentile monitoring of ``value`` whose state is
    O((1/eps) log(eps n)) tuples per shard instead of the stream itself.

    Each state tuple (v, g, delta) brackets the true rank of v between
    rmin = sum(g up to here) and rmax = rmin + delta; inserts add
    (v, 1, floor(2 eps n) - 1) before the first larger element (delta 0
    at the extremes) — spliced per batch by the vectorized kernel — and
    a per-batch compress merges neighbors while
    g_i + g_{i+1} + delta_{i+1} <= 2 eps n — the GK invariant that makes
    every phi-quantile answerable within eps*n rank error,
    DETERMINISTICALLY (no randomness, unlike KLL/reservoir), which is
    what lets the test assert hard bounds against exact batch ranks.
    Emits the current estimates for GK_PHIS per shard each micro-batch,
    tagged with the shard's event count; latest row group per shard is
    the live answer."""

    def rows(shard, tup, n):
        import pandas as pd

        return pd.DataFrame({
            "shard": shard,
            "phi": GK_PHIS,
            "estimate": [_gk_query(tup, n, phi, eps) for phi in GK_PHIS],
            "shard_n": n,
        })

    return _sharded_sketch(
        events, F.col("user_id") % shards, ["value"], init=list,
        load=lambda *cols: list(zip(*cols)),
        fold=lambda tup, pdf, n: _gk_insert_batch(tup, n, pdf, eps),
        dump=_gk_state_dump, rows=rows, out_schema=_GK_OUT_SCHEMA,
        state_schema=_GK_STATE_SCHEMA,
    )


def gk_merged_quantiles(
    summaries: list[tuple[list[float], list[int], list[int], int]],
    phis: list[float] = GK_PHIS,
    eps: float = GK_EPS,
) -> dict[float, float]:
    """GLOBAL quantiles from per-shard GK summaries (GK summaries are
    mergeable). Pure function — the inputs are the
    (vs, gs, ds, n) rows ``streaming_quantiles_gk_summary`` emits, a few
    hundred tuples per shard no matter how large the stream, so merging
    1000 shards driver-side (or in ``foreachBatch``) is O(total tuples ×
    log) work on kilobytes of data.

    Method: each shard bounds the rank-below-or-equal of any value v
    between lower_s(v) = rmin of its last tuple <= v and upper_s(v) =
    rmax of its next tuple minus 1 (n_s when no next tuple); the GK
    invariant keeps each shard's bracket width <= 2*eps*n_s. Summing
    across shards brackets the GLOBAL rank of v within sum_s(2 eps n_s)
    = 2*eps*N, so a bracket MIDPOINT estimates the true rank within
    eps*N. The answer for target rank r is the candidate value whose
    midpoint is closest to r; stepping between consecutive candidates
    moves only the shard(s) whose stored tuple sits at that value, so
    the midpoint granularity is <= eps*max_s(n_s) — the summed-eps
    bound the test asserts against exact batch ranks:

        |true_rank(answer) - r| <= eps*N + eps*max_s(n_s) + shards,

    (the trailing +shards absorbs tuple-boundary tie slack, one per
    shard, like the per-shard test's +1). Candidates are the union of
    all stored tuple values, so no raw data is revisited."""
    import bisect
    import math

    pre = []  # per shard: (values, rmins, rmaxs, n)
    candidates: set[float] = set()
    total_n = 0
    for vs, gs, ds, n in summaries:
        rmins, acc = [], 0
        for g in gs:
            acc += int(g)
            rmins.append(acc)
        rmaxs = [rm + int(d) for rm, d in zip(rmins, ds)]
        pre.append(([float(v) for v in vs], rmins, rmaxs, int(n)))
        candidates.update(float(v) for v in vs)
        total_n += int(n)
    cand = sorted(candidates)

    def bracket(v: float) -> tuple[int, int]:
        lo_sum = hi_sum = 0
        for vs, rmins, rmaxs, n in pre:
            j = bisect.bisect_right(vs, v) - 1  # last tuple <= v
            lo_sum += rmins[j] if j >= 0 else 0
            hi_sum += (rmaxs[j + 1] - 1) if j + 1 < len(vs) else n
        return lo_sum, hi_sum

    brackets = [bracket(v) for v in cand]
    out = {}
    for phi in phis:
        r = max(1, int(math.ceil(phi * total_n)))
        best, best_dist = float("nan"), float("inf")
        for v, (lo, hi) in zip(cand, brackets):
            mid = (lo + hi) / 2.0
            if abs(mid - r) < best_dist:
                best, best_dist = v, abs(mid - r)
        out[phi] = best
    return out


def streaming_quantiles_gk_summary(
    events: DataFrame, eps: float = GK_EPS, shards: int = GK_SHARDS
) -> DataFrame:
    """The summary-emitting twin of ``streaming_quantiles_gk``: identical
    state evolution (the same ``_gk_insert_batch`` fold), but each
    micro-batch emits the shard's raw GK tuples (vs, gs, ds, n) instead
    of point estimates — the mergeable form. Downstream, the latest row
    per shard feeds ``gk_merged_quantiles`` for GLOBAL quantiles with
    the summed-eps bound; the rows are O((1/eps) log(eps n)) doubles per
    shard, so shipping them every batch costs kilobytes at any stream
    size."""

    def rows(shard, tup, n):
        import pandas as pd

        vs, gs, ds = _gk_state_dump(tup)
        return pd.DataFrame(
            {"shard": [shard], "vs": [vs], "gs": [gs], "ds": [ds], "shard_n": [n]}
        )

    # append mode: each batch's summary row is an immutable time-series
    # record (never retracted), which also admits durable append sinks
    # (parquet) for checkpoint-recovery coverage
    return _sharded_sketch(
        events, F.col("user_id") % shards, ["value"], init=list,
        load=lambda *cols: list(zip(*cols)),
        fold=lambda tup, pdf, n: _gk_insert_batch(tup, n, pdf, eps),
        dump=_gk_state_dump, rows=rows, out_schema=_GK_SUMMARY_OUT_SCHEMA,
        state_schema=_GK_STATE_SCHEMA, mode="append",
    )


HLL_B = 12  # 2^12 = 4096 registers; standard error 1.04/sqrt(m) ~ 1.6%
HLL_SHARDS = 4

_HLL_STATE_SCHEMA = "regs binary, n long"
_HLL_SPEC = (
    "uint8", (1 << HLL_B,),
    "register width {} != 2^HLL_B = {}; summaries from different HLL_B "
    "configurations do not merge",
)
_HLL_OUT_SCHEMA = "shard long, estimate double, shard_n long, regs binary"


def _hll_hash64(x):
    """splitmix64 finalizer over an int64/uint64 numpy array — the
    avalanche permutation HyperLogLog needs so register index and rank
    bits are uniform regardless of the key distribution. Pure numpy,
    wraps mod 2^64 like the scalar reference."""
    import numpy as np

    x = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _hll_update(regs, ids) -> None:
    """Fold a batch of int64 keys into the register array in place —
    fully vectorized (hash, split, frexp bit-length, grouped max):
    register index = low HLL_B hash bits, rank = leading-zero count of
    the remaining 64-HLL_B bits plus one. frexp gives the exact bit
    length (the remaining bits fit float64's 53-bit mantissa exactly, so
    no log2 rounding hazard)."""
    import numpy as np

    if ids.size == 0:
        return
    h = _hll_hash64(ids)
    m = regs.size
    idx = (h & np.uint64(m - 1)).astype(np.int64)
    w = h >> np.uint64(regs.size.bit_length() - 1)  # drop the index bits
    width = 64 - (m.bit_length() - 1)
    _, exp = np.frexp(w.astype(np.float64))  # exact: w < 2^52 < 2^53
    rho = (width - exp + 1).astype(np.uint8)  # w == 0 -> exp 0 -> width+1
    np.maximum.at(regs, idx, rho)


def _hll_estimate(regs) -> float:
    """Ertl's improved HLL estimator (Ertl 2017, "New cardinality
    estimation algorithms for HyperLogLog sketches", alg. 6/8/9): the
    maximum-likelihood-shaped sigma/tau forms replace Flajolet's raw
    estimator AND both range corrections, eliminating the well-known
    bias hump in the transition zone around n ~ 2.5m (measured here:
    5.3% error at n=50k/m=4096 with the classic corrected estimator,
    1-2% with this one). Operates on the register multiplicity vector
    only — O(m) once per estimate."""
    import math

    import numpy as np

    m = regs.size
    q = 64 - (m.bit_length() - 1)  # register values occupy 0 .. q+1
    counts = np.bincount(regs, minlength=q + 2).astype(np.int64)

    def sigma(x: float) -> float:
        if x == 1.0:
            return float("inf")
        y, z = 1.0, x
        while True:
            x = x * x
            z_prev = z
            z = z + x * y
            y = y + y
            if z == z_prev:
                return z

    def tau(x: float) -> float:
        if x == 0.0 or x == 1.0:
            return 0.0
        y, z = 1.0, 1.0 - x
        while True:
            x = math.sqrt(x)
            z_prev = z
            y = 0.5 * y
            z = z - (1.0 - x) ** 2 * y
            if z == z_prev:
                return z / 3.0

    z = m * tau(1.0 - counts[q + 1] / m)
    for k in range(q, 0, -1):
        z = 0.5 * (z + counts[k])
    z = z + m * sigma(counts[0] / m)
    return m * m / (2.0 * math.log(2.0) * z)


def _unpack(blob, dtype: str, shape: tuple, what: str):
    """The ``shape``/``dtype`` numpy array (read-only) packed in
    ``blob``. A blob of another width raises ValueError with ``what``
    formatted by the blob's and the expected element counts: summaries
    of different sketch configurations neither load nor merge."""
    import numpy as np

    arr = np.frombuffer(bytes(blob), dtype=dtype)
    want = int(np.prod(shape))
    if arr.size != want:
        raise ValueError(what.format(arr.size, want))
    return arr.reshape(shape)


def _packed_sketch(
    events: DataFrame, shards: int, *, blob: str, spec: tuple, fold,
    out_schema: str, state_schema: str, extra=None,
) -> DataFrame:
    """The packed-array sketches (HLL, CMS, Bloom) on ``_sharded_sketch``.
    Events shard by ``event_id % shards``; the sketch is a numpy array,
    ``spec = (dtype, shape, what)`` as ``_unpack`` takes it, kept in
    state packed to bytes. Each chunk's ``user_id`` keys fold in place
    with ``fold(arr, ids)``; each micro-batch emits one row: shard, the
    columns ``extra(arr)`` returns, shard_n, and the packed array under
    ``blob`` (the mergeable form the global sinks read)."""

    def init():
        import numpy as np

        return np.zeros(spec[1], dtype=spec[0])

    def fold_keys(arr, pdf, n):
        fold(arr, pdf["user_id"].to_numpy(dtype="int64"))
        return arr

    def rows(shard, arr, n):
        import pandas as pd

        cols = {"shard": [shard], **(extra(arr) if extra else {})}
        return pd.DataFrame({**cols, "shard_n": [n], blob: [arr.tobytes()]})

    return _sharded_sketch(
        events, F.col("event_id") % shards, ["user_id"], init=init,
        load=lambda packed: _unpack(packed, *spec).copy(), fold=fold_keys,
        dump=lambda arr: (arr.tobytes(),), rows=rows, out_schema=out_schema,
        state_schema=state_schema,
    )


def streaming_distinct_hll(
    events: DataFrame, shards: int = HLL_SHARDS
) -> DataFrame:
    """Streaming DISTINCT COUNT via HyperLogLog group state
    (``_packed_sketch``): "how many distinct users has the stream seen",
    continuously, in 4 KiB of state per shard where the exact answer
    needs a row per key.

    Sharding is deliberately by ``event_id % shards`` — NOT by the
    counted key — so every shard sees an overlapping slice of the user
    population and the cross-shard answer is a genuine UNION (register-
    wise max via ``hll_merged_distinct``), not a disjoint sum; that is
    also the realistic topology, since a pipeline shards on throughput
    keys, not on the one column someone later wants a cardinality for.
    Each micro-batch emits the shard's estimate plus its raw registers
    (the mergeable form, 2^HLL_B bytes — kilobytes at any stream size);
    the latest row per shard feeds the global merge. Registers only grow
    (element-wise max is idempotent/commutative/associative), so the
    sketch is order- and replay-robust by construction."""
    return _packed_sketch(
        events, shards, blob="regs", spec=_HLL_SPEC, fold=_hll_update,
        out_schema=_HLL_OUT_SCHEMA, state_schema=_HLL_STATE_SCHEMA,
        extra=lambda regs: {"estimate": [_hll_estimate(regs)]},
    )


def hll_merged_distinct(regs_list: list) -> float:
    """GLOBAL distinct count from per-shard HLL registers: element-wise
    max is exactly the sketch of the union of the inputs (each register
    holds the max rank observed for its hash bucket, and max is
    associative/commutative), so merging 1000 shards is a kilobyte
    reduction with NO additional error over a single sketch of the whole
    stream — unlike the GK merge there is no summed-eps widening. Pure
    function over the ``regs`` payloads ``streaming_distinct_hll``
    emits."""
    import numpy as np

    merged = np.zeros(1 << HLL_B, dtype=np.uint8)
    for rb in regs_list:
        merged = np.maximum(merged, _unpack(rb, *_HLL_SPEC))
    return _hll_estimate(merged)


def mg_global_heavy_hitters(
    rows: list, total_n: int, capacity: int = MG_CAPACITY
) -> tuple[dict[int, int], float]:
    """GLOBAL heavy hitters from the per-shard Misra-Gries summaries
    ``streaming_heavy_hitters`` emits. Because sharding is BY KEY
    (user_id % shards), each key lives in exactly one shard, so the
    global sketch is the plain union of shard summaries — no sketch
    merge needed — and each key's global guarantee is its SHARD's:

        mg_count <= true_count <= mg_count + n_shard/(capacity+1)
                               <= mg_count + total_n/(capacity+1),

    so every key with true global frequency above total_n/(capacity+1)
    is guaranteed present (its shard bound is tighter). rows are the
    summary's Rows (``user_id`` and ``mg_count`` are read) — take the
    latest summary per shard before calling. Returns ``(counts,
    bound)`` where ``bound = total_n / (capacity + 1)`` is that guarantee
    threshold — computed here so callers assert against the SAME bound
    the docstring promises.
    Pure function; merging 1000 shards is dict-union work on
    shards x capacity counters."""
    out: dict[int, int] = {}
    for r in rows:
        uid = int(r.user_id)
        if uid in out:
            raise ValueError(
                f"key {uid} present in two shard summaries — rows are not "
                "key-sharded; the union bound does not apply"
            )
        out[uid] = int(r.mg_count)
    return out, total_n / (capacity + 1)


def _global_merge_fn(
    out_path: str, *, out_schema: str, compact_every: int, emit,
):
    """The foreachBatch function of every live global-sketch sink
    (``write_global_quantiles`` / ``_distinct`` / ``_freq`` / ``_bloom``
    / ``_reservoir``). The carry is each shard's latest summary rows,
    exactly as the summary stream emitted them: the rows with the
    largest ``shard_n`` (one row for the GK and packed-array sketches,
    the k sampled events for the reservoir), replaced only when a later
    emission's ``shard_n`` is strictly larger. A shard that is quiet in
    a batch (a NoTimeout stateful op emits only for shards that received
    events) thus keeps feeding the merge.

    Per micro-batch: hydrate the carry from the ``<out_path>_carry``
    sidecar at the first batch after a (re)start; fold the batch in;
    persist the carry via atomic swap BEFORE the series append (a crash
    between the two replays the batch, which re-derives the same carry,
    whereas the reverse order could append a series row no persisted
    carry backs); append ``emit(batch_id, rows, n_total)`` (all carried
    rows, and the sum of the shards' ``shard_n``) to the series,
    compacting every ``compact_every`` appends.

    The sidecar's schema is the batch's own. Hydration selects the
    summary's columns by name, so a sidecar holding them in another
    order still hydrates; one that lacks a column raises ValueError
    naming it (delete the sidecar to start the carry afresh: quiet
    shards then drop out of the merge until their next event).

    Restart semantics == a fresh call of this factory: all mutable
    state (hydration flag, carry, compaction counter) lives in the
    closure, exactly what a new driver process would rebuild.
    """
    carry_path = out_path.rstrip("/") + "_carry"
    carried: dict[int, list] = {}  # shard -> its latest summary rows
    hydrated = [False]
    appends = [0]  # files appended since the last compaction

    def _fold(rows: list) -> None:
        latest: dict[int, list] = {}
        for r in rows:
            cur = latest.get(r.shard)
            if cur is None or r.shard_n > cur[0].shard_n:
                latest[r.shard] = [r]
            elif r.shard_n == cur[0].shard_n:
                cur.append(r)
        for s, rs in latest.items():
            if s not in carried or rs[0].shard_n > carried[s][0].shard_n:
                carried[s] = rs

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not hydrated[0]:
            _swap_recover(spark, carry_path)
            if table_exists(spark, carry_path):
                carry = spark.read.parquet(carry_path)
                missing = [c for c in batch.columns if c not in carry.columns]
                if missing:
                    raise ValueError(
                        f"global-sketch carry {carry_path} lacks the summary "
                        f"columns {missing}; delete it to start the carry afresh"
                    )
                _fold(carry.select(*batch.columns).collect())
            # seed the compaction counter from the series' current file
            # count, so the compact_every + 1 file bound holds across
            # restarts (a counter reset to 0 at every start would never
            # compact a stream that restarts often)
            _swap_recover(spark, out_path)
            appends[0] = fs_count_data_files(spark, out_path)
            hydrated[0] = True
        rows = batch.collect()  # O(shards) summary rows (x k for the
        # reservoir), never the stream itself
        if not rows:
            return  # empty micro-batch: nothing changed, emit nothing
        _fold(rows)
        kept = [r for rs in carried.values() for r in rs]
        _atomic_overwrite_rows(spark, kept, batch.schema, carry_path)
        n_total = sum(rs[0].shard_n for rs in carried.values())
        out = spark.createDataFrame(emit(batch_id, kept, n_total), out_schema)
        _append_or_compact(out, out_path, appends, compact_every)

    return _merge


def write_global_quantiles(
    summaries: DataFrame, out_path: str, eps: float = GK_EPS,
    compact_every: int = 16,
):
    """Operationalize the GK merge as a LIVE pipeline: consume the
    summary stream (``streaming_quantiles_gk_summary``) in foreachBatch,
    carry each shard's latest summary across micro-batches and restarts
    (``_global_merge_fn``: a quiet shard still contributes its
    accumulated state), merge driver-side (kilobytes of tuples no matter
    the stream size) and append one row per phi per micro-batch to
    ``out_path``. The stored history is the global-quantile time series
    a monitoring pipeline wants; the last batch_id group is the live
    answer, within the summed-eps rank bound of ``gk_merged_quantiles``.
    n_total (events the merged summaries cover) annotates every row.

    Small files: every ``compact_every`` appends the accumulated series
    (tiny — phis x batches rows) is rewritten in Spark as one file,
    bounding the file count of a long-running stream at
    ``compact_every + 1`` regardless of uptime."""

    def emit(batch_id: int, rows: list, n_total: int) -> list[tuple]:
        merged = gk_merged_quantiles(
            [(r.vs, r.gs, r.ds, r.shard_n) for r in rows], eps=eps
        )
        return [
            (int(batch_id), float(phi), float(est), int(n_total))
            for phi, est in merged.items()
        ]

    return summaries.writeStream.outputMode("append").foreachBatch(
        _global_merge_fn(
            out_path,
            out_schema="batch_id long, phi double, estimate double, n_total long",
            compact_every=compact_every, emit=emit,
        )
    )


def _driver_write_parquet(
    spark: SparkSession, rows: list, schema, path: str
) -> None:
    """Write a tiny driver-side row list (tuples in ``schema`` order; a
    DDL string or a StructType) as ONE parquet file through the Hadoop
    FileSystem API — NO Spark job. The sidecars are O(shards) kilobyte
    rows that already live on the driver; shipping them through
    ``createDataFrame().write`` adds a job launch (~1-2 s) to every
    micro-batch, which dominated the global-sketch sinks' batch time.
    pyarrow serializes the rows in-process and the bytes go out over
    the same FileSystem abstraction every other path uses, so s3a/hdfs/
    file: all still route correctly and ``spark.read.parquet`` reads the
    result like any other table."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    schema = to_arrow_schema(schema)
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)}
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    data = sink.getvalue().to_pybytes()
    jvm = spark._jvm
    # write under a dot-prefixed name (parquet readers treat it as a
    # hidden file) and rename into place, so a crash mid-write leaves a
    # directory whose only file is invisible to readers — never a
    # half-written part file a later read could trip over
    tmp = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "/.part-00000.parquet.inprogress"
    )
    final = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "/part-00000.parquet"
    )
    fs = tmp.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(data)
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"rename failed: {tmp} -> {final}")


def _swap_in(spark: SparkSession, path: str, write) -> None:
    """Replace ``path`` with what ``write(tmp)`` writes to a temp
    sibling: rename the live path aside, install the temp, drop the old.
    A direct overwrite deletes the target directory before writing, so a
    crash mid-write would lose the previous contents; the swap keeps a
    complete copy on disk at every instant, and ``_swap_recover`` heals
    its one exposed window (live path renamed away, temp not yet
    installed)."""
    tmp_new = path.rstrip("/") + "__compact_tmp"
    tmp_old = path.rstrip("/") + "__compact_old"
    write(tmp_new)
    fs_delete(spark, tmp_old)
    if table_exists(spark, path):
        fs_rename(spark, path, tmp_old)
    fs_rename(spark, tmp_new, path)
    fs_delete(spark, tmp_old)


def _atomic_overwrite_rows(
    spark: SparkSession, rows: list, schema, path: str
) -> None:
    """Overwrite ``path`` with driver-side ``rows`` (``schema`` as
    ``_driver_write_parquet`` takes it) through ``_swap_in``, after
    healing an interrupted swap."""
    _swap_recover(spark, path)
    _swap_in(spark, path, lambda tmp: _driver_write_parquet(spark, rows, schema, tmp))


def _swap_recover(spark: SparkSession, path: str) -> None:
    """Heal the swap idiom's exposed crash window: the live path was
    renamed aside and the replacement was not yet installed — install
    the surviving temp. The temp is VALIDATED by actually reading it
    before promotion: a crash can also land
    MID-WRITE of the temp itself — e.g. the driver dies inside the very
    first carry persist, before any live path exists — and promoting a
    truncated parquet would wedge every subsequent hydration on a
    corrupt sidecar. An unreadable temp is deleted instead: for a
    first-write crash nothing existed to lose (the stream re-derives
    the carry from incoming batches), and for a mid-swap crash the temp
    is by construction a COMPLETE copy and passes the read."""
    tmp_new = path.rstrip("/") + "__compact_tmp"
    if not table_exists(spark, path) and table_exists(spark, tmp_new):
        try:
            spark.read.parquet(tmp_new).limit(1).collect()
        except Exception:
            fs_delete(spark, tmp_new)
            return
        fs_rename(spark, tmp_new, path)


def _append_or_compact(
    out: DataFrame, out_path: str, appends: list, compact_every: int
) -> None:
    """Shared sink idiom of the global-sketch monitoring pipelines: append
    the batch's tiny row group, and every ``compact_every`` appends
    rewrite the whole series as one file, IN SPARK (read -> union ->
    coalesce(1) -> ``_swap_in``) — never a driver collect of the
    accumulated series, whose size is O(stream lifetime). The swap keeps
    a full copy on disk at every instant, so a crash mid-compaction
    loses nothing; a crash inside its one exposed window is healed by
    the recovery step at the top of the next call. Bounds a
    long-running stream's file count at compact_every + 1 INCLUDING
    across restarts — callers seed ``appends`` from the series' current
    file count at their first batch (see ``_global_merge_fn``), so a
    stream restarted every few batches still compacts on schedule."""
    spark = out.sparkSession
    _swap_recover(spark, out_path)
    if appends[0] >= compact_every:
        # writing the temp reads out_path while writing a DIFFERENT
        # directory, so no materialization barrier is needed
        _swap_in(
            spark, out_path,
            lambda tmp: spark.read.parquet(out_path).unionByName(out)
            .coalesce(1).write.mode("overwrite").parquet(tmp),
        )
        appends[0] = 1
    else:
        out.coalesce(1).write.mode("append").parquet(out_path)
        appends[0] += 1


def write_global_distinct(
    summaries: DataFrame, out_path: str, compact_every: int = 16
):
    """Operationalize the HLL merge as a LIVE pipeline, the cardinality
    twin of ``write_global_quantiles``: consume ``streaming_distinct_hll``
    rows in foreachBatch, carry each shard's latest registers across
    micro-batches and restarts (``_global_merge_fn``), merge
    register-wise — ZERO added error, see ``hll_merged_distinct`` — and
    append one (batch_id, estimate, n_total) row per micro-batch to the
    parquet time series, compacting every ``compact_every`` appends.
    The last row is the live global distinct count; n_total records how
    many events the merged registers have absorbed."""

    def emit(batch_id: int, rows: list, n_total: int) -> list[tuple]:
        est = hll_merged_distinct([r.regs for r in rows])
        return [(int(batch_id), float(est), int(n_total))]

    return summaries.writeStream.outputMode("update").foreachBatch(
        _global_merge_fn(
            out_path, out_schema="batch_id long, estimate double, n_total long",
            compact_every=compact_every, emit=emit,
        )
    )


# ------------------------------------------------- count-min frequency

CMS_W_BITS = 12  # 4096 columns per row
CMS_DEPTH = 4  # independent rows; overcount tail shrinks ~e^-depth
CMS_SHARDS = 4
# fixed odd 64-bit row salts: XORed into the key before the splitmix64
# finalizer so the rows are independent hash functions of the same key
_CMS_ROW_SALTS = (
    0x9E3779B97F4A7C15,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0xD6E8FEB86659FD93,
)


def _cms_row_index(ids, row: int):
    """Column index of every key in ``ids`` for CMS row ``row`` — the
    splitmix64 finalizer (``_hll_hash64``) over the salt-perturbed key,
    masked to the table width. Vectorized, shared by update and query so
    the two can never disagree."""
    import numpy as np

    h = _hll_hash64(ids.astype(np.uint64) ^ np.uint64(_CMS_ROW_SALTS[row]))
    return (h & np.uint64((1 << CMS_W_BITS) - 1)).astype(np.int64)


def _cms_update(tab, ids) -> None:
    """Fold a batch of int64 keys into the CMS table in place (one +1
    per row per event; duplicate keys in the batch are grouped first so
    each row does one ``np.add.at`` over unique keys). PLAIN count-min,
    deliberately not the conservative-update variant: conservative
    update tightens single-sketch estimates but breaks the merge
    identity (table(A) + table(B) == table(A++B) element-wise, exact),
    and mergeability is the property the cross-shard pipeline needs."""
    import numpy as np

    if ids.size == 0:
        return
    ks, cnt = np.unique(ids, return_counts=True)
    for r in range(CMS_DEPTH):
        np.add.at(tab[r], _cms_row_index(ks, r), cnt)


def _cms_query(tab, ids):
    """Point estimates for ``ids``: min over rows of each key's cell.
    Never an undercount (every occurrence of the key incremented every
    one of its cells); overcount of key k is the colliding mass in its
    LEAST-loaded row, Pr[> e/w * n] <= e^-depth per key."""
    import numpy as np

    est = None
    for r in range(CMS_DEPTH):
        v = tab[r][_cms_row_index(ids, r)]
        est = v if est is None else np.minimum(est, v)
    return est


_CMS_STATE_SCHEMA = "tab binary, n long"
_CMS_SPEC = (
    "int64", (CMS_DEPTH, 1 << CMS_W_BITS),
    "table size {} != depth*width = {}; summaries from different CMS "
    "configurations do not merge",
)
_CMS_OUT_SCHEMA = "shard long, shard_n long, tab binary"


def streaming_freq_cms(events: DataFrame, shards: int = CMS_SHARDS) -> DataFrame:
    """Streaming per-key FREQUENCY estimation via a count-min sketch in
    group state (``_packed_sketch``). MG answers "which keys are heavy";
    CMS answers "how often has ANY given key occurred", continuously, in
    depth x width int64 cells (128 KiB here) per shard instead of a
    counter per key.

    Guarantees (both pinned in tests): an estimate NEVER undercounts,
    and overcounts exceed (e/width) * n_shard with probability at most
    ~e^-depth (the classic CMS bound; width 4096, depth 4). Sharding is
    by ``event_id % shards`` — the throughput topology, same rationale
    as ``streaming_distinct_hll`` — so each shard sketches an arbitrary
    slice of the keyspace and the global answer is the element-wise SUM
    of tables (``cms_merged_counts``), which is EXACTLY the sketch of
    the concatenated stream: addition commutes with the per-cell
    increments, so merging adds ZERO error beyond a single global
    sketch. Each micro-batch emits the shard's table (the mergeable
    form) + event count; the latest row per shard feeds the merge."""
    return _packed_sketch(
        events, shards, blob="tab", spec=_CMS_SPEC, fold=_cms_update,
        out_schema=_CMS_OUT_SCHEMA, state_schema=_CMS_STATE_SCHEMA,
    )


def cms_merged_counts(tabs: list, keys) -> dict[int, int]:
    """GLOBAL per-key frequency estimates from per-shard CMS tables:
    element-wise sum of the tables is exactly the table a single sketch
    of the whole stream would hold (increments are additive per cell),
    so the merged estimates carry the single-sketch guarantee at the
    GLOBAL n — no summed-eps widening, same shape of result as the HLL
    union merge. Pure function over the ``tab`` payloads
    ``streaming_freq_cms`` emits; ``keys`` is an iterable of int64 keys
    to estimate."""
    import numpy as np

    merged = np.zeros(_CMS_SPEC[1], dtype=np.int64)
    for tb in tabs:
        merged += _unpack(tb, *_CMS_SPEC)
    ks = np.asarray(list(keys), dtype=np.int64)
    est = _cms_query(merged, ks)
    return {int(k): int(v) for k, v in zip(ks, est)}


def write_global_freq(
    summaries: DataFrame, out_path: str, probe_keys, compact_every: int = 16
):
    """Operationalize the CMS merge as a LIVE pipeline: consume
    ``streaming_freq_cms`` rows in foreachBatch, carry each shard's
    latest table across micro-batches and restarts
    (``_global_merge_fn``), merge element-wise — the sum IS the single
    global sketch, zero added error, see ``cms_merged_counts`` — and
    append one (batch_id, key, estimate, n_total) row per probed key per
    micro-batch to the parquet time series, compacting every
    ``compact_every`` appends. ``probe_keys`` is the fixed list of keys
    being monitored (the CMS answers point queries, so a monitoring
    pipeline names its keys up front); the latest batch's rows are the
    live per-key frequency estimates, each within the (e/width)*n_total
    single-sketch bound of its true global count."""
    keys = [int(k) for k in probe_keys]

    def emit(batch_id: int, rows: list, n_total: int) -> list[tuple]:
        est = cms_merged_counts([r.tab for r in rows], keys)
        return [
            (int(batch_id), int(k), int(est[k]), int(n_total)) for k in keys
        ]

    return summaries.writeStream.outputMode("update").foreachBatch(
        _global_merge_fn(
            out_path,
            out_schema="batch_id long, key long, estimate long, n_total long",
            compact_every=compact_every, emit=emit,
        )
    )


# ---------------------------------------------- reservoir sample

RSV_CAPACITY = 128
RSV_SHARDS = 4


def _rsv_priority(event_ids, weights=None):
    """Sampling priority of each event: a deterministic uniform in (0,1)
    derived from the event id by the splitmix64 finalizer, raised to
    1/weight for the weighted variant (Efraimidis-Spirakis A-ES keys).
    DETERMINISTIC BY DESIGN — the priority is a pure function of the
    event, not an RNG draw — which upgrades the classic probabilistic
    reservoir into one with EXACT identities: replaying an event cannot
    change the sample, and the top-k-by-priority of a union equals the
    top-k of the concatenated stream, element for element (the merge and
    replay tests assert set equality, not distribution similarity).
    Uniformity comes from the hash avalanche; across event-id
    populations the sample is uniform (weighted: P[i in sample]
    proportional to w_i for k << n), asserted statistically in tests."""
    import numpy as np

    h = _hll_hash64(event_ids.astype(np.int64))
    # (h + 1) / (2^64 + 2): strictly inside (0,1) so log() is finite
    u = (h.astype(np.float64) + 1.0) / 18446744073709551618.0
    if weights is None:
        return u
    w = np.asarray(weights, dtype=np.float64)
    if (w <= 0).any():
        raise ValueError("reservoir weights must be strictly positive")
    return u ** (1.0 / w)


def _rsv_update(res: dict, event_ids, user_ids, values, k: int, weighted: bool):
    """Fold a batch into the reservoir dict {event_id: (priority,
    user_id, value)} in place, VECTORIZED: only the batch's top-k unique
    events by priority can possibly enter a k-capacity reservoir (every
    other batch event is outranked by k batch-mates already), so the
    batch reduces to <=k candidates with numpy (unique + argsort) before
    any per-item Python work — dict churn is O(k) per batch regardless
    of batch size, and the result is IDENTICAL to folding every event.
    Duplicate event ids collapse (same priority by construction;
    weighted duplicates with CONFLICTING values resolve to the FIRST
    occurrence both within a batch — ``np.unique`` keeps the first —
    and ACROSS batches — an id already in the reservoir is never
    re-inserted below — an event id is a key, so that case is malformed
    input, not a sampling path), so replay is a set-level no-op even
    when a replayed id arrives with a perturbed weighted value."""
    import numpy as np

    eids = np.asarray(event_ids, dtype=np.int64)
    if eids.size == 0:
        return
    uids = np.asarray(user_ids, dtype=np.int64)
    vals = (
        np.asarray(values, dtype=np.float64)
        if values is not None
        else np.zeros(eids.size)
    )
    uq, idx = np.unique(eids, return_index=True)
    pri = _rsv_priority(uq, vals[idx] if weighted else None)
    if uq.size > k:
        # top-k by (priority, event_id) — lexsort ascending, take the tail
        keep = np.lexsort((uq, pri))[-k:]
        uq, idx, pri = uq[keep], idx[keep], pri[keep]
    for e, p, uid, v in zip(
        uq.tolist(), pri.tolist(), uids[idx].tolist(), vals[idx].tolist()
    ):
        # first-wins across batches: an id already resident keeps its
        # stored (priority, user, value) — a replayed id carrying a
        # conflicting weighted value must not re-key the sample
        res.setdefault(int(e), (float(p), int(uid), float(v)))
    if len(res) > k:
        # trim to the k largest, ties broken deterministically by
        # (priority, event_id) so the survivor set is unique across
        # replays and shard merges
        items = sorted(
            res.items(), key=lambda kv: (kv[1][0], kv[0]), reverse=True
        )[:k]
        res.clear()
        res.update(items)


_RSV_STATE_SCHEMA = (
    "event_ids array<long>, pris array<double>, user_ids array<long>, "
    "vals array<double>, n long"
)
_RSV_OUT_SCHEMA = (
    "shard long, event_id long, user_id long, value double, "
    "priority double, shard_n long"
)


def streaming_reservoir_sample(
    events: DataFrame, k: int = RSV_CAPACITY, shards: int = RSV_SHARDS,
    weighted: bool = False,
) -> DataFrame:
    """Streaming UNIFORM (or weight-proportional) SAMPLE via a
    deterministic reservoir in group state (``_sharded_sketch``, sharded
    by ``event_id % shards``): "hold k representative events of
    everything seen", the primitive a training-data pipeline uses for
    eval carve-outs, data inspection, and monitoring panels that must
    not scan the stream.

    Each event's sampling priority is a deterministic hash-derived
    uniform (weighted: Efraimidis-Spirakis u^(1/w) keys over ``value``),
    and the reservoir is simply the top-k by priority. That determinism
    buys the strongest merge/replay story of the sketches: the
    global sample is the top-k of the union of per-shard reservoirs,
    which EQUALS the top-k of the concatenated stream ELEMENT FOR
    ELEMENT (any globally-top event is top in its own shard), replay
    cannot perturb the sample (same event -> same priority -> set-level
    no-op), and checkpoint recovery is exact regardless of batch splits.
    Per batch each shard emits its reservoir rows tagged with shard_n;
    the latest rows per shard feed ``reservoir_merged``. State is O(k)
    per shard at any stream size."""

    def load(eids, pris, uids, vals):
        return {e: (p, u, v) for e, p, u, v in zip(eids, pris, uids, vals)}

    def fold(res, pdf, n):
        _rsv_update(
            res, pdf["event_id"].to_numpy(dtype="int64"),
            pdf["user_id"].to_numpy(dtype="int64"),
            pdf["value"].to_numpy(dtype="float64"), k, weighted,
        )
        return res

    def dump(res):  # the state's columns, top priority first
        items = sorted(res.items(), key=lambda kv: (kv[1][0], kv[0]), reverse=True)
        return (
            [e for e, _ in items], [p for _, (p, _, _) in items],
            [u for _, (_, u, _) in items], [v for _, (_, _, v) in items],
        )

    def rows(shard, res, n):
        import pandas as pd

        eids, pris, uids, vals = dump(res)
        return pd.DataFrame({
            "shard": [shard] * len(eids), "event_id": eids, "user_id": uids,
            "value": vals, "priority": pris, "shard_n": [n] * len(eids),
        })

    return _sharded_sketch(
        events, F.col("event_id") % shards, ["event_id", "user_id", "value"],
        init=dict, load=load, fold=fold, dump=dump, rows=rows,
        out_schema=_RSV_OUT_SCHEMA, state_schema=_RSV_STATE_SCHEMA,
    )


def reservoir_merged(rows: list, k: int = RSV_CAPACITY) -> list[tuple]:
    """GLOBAL sample from per-shard reservoirs: top-k by (priority,
    event_id) over the union — EXACTLY the reservoir a single sketch of
    the whole stream would hold (every globally-sampled event is by
    definition in its shard's top-k), so the merge adds zero
    distributional error; it IS the global sample. rows are
    (shard, event_id, user_id, value, priority, shard_n) records — take
    the latest row group per shard before calling. Returns
    [(event_id, user_id, value, priority)] sorted by descending
    priority."""
    seen: dict[int, tuple] = {}
    for r in rows:
        seen[int(r.event_id)] = (
            float(r.priority), int(r.user_id), float(r.value)
        )
    items = sorted(seen.items(), key=lambda kv: (kv[1][0], kv[0]), reverse=True)
    return [(e, u, v, p) for e, (p, u, v) in items[:k]]


def write_global_reservoir(
    samples: DataFrame, out_path: str, k: int = RSV_CAPACITY,
    compact_every: int = 16,
):
    """Operationalize the reservoir merge as a LIVE pipeline: consume
    ``streaming_reservoir_sample`` rows in foreachBatch, carry each
    shard's latest reservoir (its k sampled rows) across micro-batches
    and restarts (``_global_merge_fn``), so a quiet shard's sampled
    events keep representing it, merge by top-k of the union — which by
    the deterministic-priority identity (``reservoir_merged``) IS the
    sample a single reservoir over the whole stream would hold, zero
    added distributional error — and append one row per sampled event
    per micro-batch to the parquet time series. The latest batch_id
    group is the live global uniform sample (eval carve-outs, drift
    inspection panels); the history is how the sample evolved. n_total
    annotates every row."""

    def emit(batch_id: int, rows: list, n_total: int) -> list[tuple]:
        return [
            (int(batch_id), e, u, v, p, int(n_total))
            for e, u, v, p in reservoir_merged(rows, k)
        ]

    return samples.writeStream.outputMode("update").foreachBatch(
        _global_merge_fn(
            out_path,
            out_schema=(
                "batch_id long, event_id long, user_id long, value double, "
                "priority double, n_total long"
            ),
            compact_every=compact_every, emit=emit,
        )
    )


# ------------------------------------------- exact dedup gate

EXACT_DEDUP_BUCKETS = 64


def _bloom_or_of_keys(keys_df: DataFrame, nbits: int):
    """Distributed Bloom build over a one-column DataFrame of int64
    keys: each partition folds its keys into a partial filter
    (mapInPandas, one binary row per non-empty partition), the driver
    ORs the partials — the OR-merge identity makes this exactly the
    filter of the whole column, and the driver never sees keys, only
    O(partitions) fixed-size blobs. The 100 TB shape: a billion-row
    backfill moves nbits/8 bytes per partition, nothing else."""
    nbytes = nbits >> 3

    def _partials(batches):
        # local imports: mapInPandas closures ship by value and must not
        # capture module globals
        import numpy as np
        import pandas as pd

        from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
            _bloom_update,
        )

        bits = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
            if ids.size:
                any_rows = True
                _bloom_update(bits, ids)
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    import numpy as np

    merged = np.zeros(nbytes, dtype=np.uint8)
    for r in keys_df.mapInPandas(_partials, schema="bits binary").collect():
        merged |= np.frombuffer(bytes(r.bits), dtype=np.uint8)
    return merged


def write_exact_dedup_gated(
    docs: DataFrame, corpus_path: str, normalized: bool = True,
    bloom_prefilter: bool = False, bloom_bits: int | None = None,
    ledger_path: str | None = None,
):
    """EXACT-duplicate streaming ingestion gate, the cheap front door
    before the near-dup LSH gate (``write_dedup_gated``): a doc whose
    text digest is already in the accepted corpus is dropped, and within
    a batch the smallest doc_id per digest wins. ``normalized=True``
    digests the canonical form (``functions.text.norm_expr``: lowercase,
    punctuation stripped, whitespace collapsed), catching case and
    punctuation variants; ``False`` gates on byte-exact text. NULL text
    digests as '' so it dedups deterministically instead of vanishing
    (sha2 propagates NULL and equi-joins never match it).

    Layout: the corpus is bucketed by digest (``EXACT_DEDUP_BUCKETS``),
    so it is its own digest index and a batch's probe reads only the
    buckets its digests hash into. The append's write shape follows the
    batch's row count after the within-batch dedup, known before the
    probe. Without the Bloom sidecar the corpus
    append is the only write, so a batch replayed after a crash
    anti-joins against its own appended rows and drops them: idempotent
    by construction, and for an exact gate the self-match is a correct
    drop.

    ``bloom_prefilter=True`` keeps a Bloom filter of the admitted digests
    in a ``<corpus>_bloom`` sidecar, ``bloom_bits`` wide (default
    BLOOM_BITS; ``bloom_bits_for(n)`` sizes it for n expected keys). Per
    batch the broadcast filter is probed executor-side; rows it has never
    seen skip the corpus anti-join, and a batch with no suspects never
    opens the corpus. Crash ordering: the sidecar is persisted BEFORE the
    corpus append, so a crash between them leaves the filter a superset
    of the corpus (replayed rows read "maybe seen", probe exactly, and are
    admitted); the reverse order could skip the probe for an admitted
    digest. A corpus that predates the sidecar is backfilled once,
    distributed (``_bloom_or_of_keys``); a crash mid-backfill leaves the
    sidecar absent and the next start redoes it. A saturated filter reads
    everything as suspect, which is the plain gate, and warns once.

    Measured economics: the evaluation and the admitted-key fold cost
    about four Spark jobs per batch, which dominate while the corpus is
    batch-sized (1.39x the plain gate's wall over 5,000 docs in 10
    batches; ``tools/gate_arm.py`` arms ``plain`` and ``bloom`` time both
    gates, interleaved by ``tools/ab.py``). So while the filter's own key
    estimate is under ``BLOOM_PREFILTER_MIN_RATIO`` x the batch, the
    evaluation is skipped
    and only the fold and persist run, keeping the superset invariant
    from the first batch (1.22x). Against a corpus 100x the batch the
    prefilter sized with ``bloom_bits_for`` is 1.35x faster end to end
    including its backfill; at the 2^20-bit default that corpus saturates
    the filter and it runs 0.82x (BENCH_exact_gate_volume.json, whose
    10/4/1-batch splits are ``tools/gate_arm.py`` arms ``plain``,
    ``plain_4`` and ``plain_1``). Enable it when the corpus will dwarf
    the batch.

    ``ledger_path`` maintains the incremental snapshot ledger (see
    ``_ledger_append_batch``), appended after the corpus; the crash
    window between the two is healed at the next start. Raises
    ValueError when ``bloom_bits`` is not a power of two >= 8 or is given
    without ``bloom_prefilter=True``."""
    from ..functions.text import norm_expr

    _check_bloom_bits(bloom_bits)
    if bloom_bits is not None and not bloom_prefilter:
        raise ValueError(
            f"bloom_bits={bloom_bits} is set but bloom_prefilter is off"
        )
    corpus = _BucketedTable(
        corpus_path, "dig_bucket", ("digest",), EXACT_DEDUP_BUCKETS
    )
    bloom = _BloomSidecar(corpus_path.rstrip("/") + "_bloom", bloom_bits or BLOOM_BITS)
    fill = {"n_est": 0.0, "warned": False}
    ledger_state: dict[str, object] = {"reconciled": False, "appends": None}

    def _note_fill(where: str) -> None:
        """Refresh the fill-derived key estimate (n = -(m/k) ln(1 - fill),
        the occupancy inversion) and warn once when the filter is
        saturating, with the numbers needed to rebuild it bigger.
        Counts with the byte-popcount LUT: np.unpackbits would make an 8x
        temporary per batch."""
        import math

        m = bloom.nbits
        f = _bloom_popcount(bloom.bits) / m
        fill["n_est"] = float("inf") if f >= 1.0 else -(m / BLOOM_K) * math.log1p(-f)
        if f > BLOOM_FILL_WARN and not fill["warned"]:
            fill["warned"] = True
            # a full filter estimates infinity: cap to keep it finite
            est = int(min(fill["n_est"], 2**40))
            print(
                f"WARNING [bloom-gate] {where}: filter fill {f:.2f} "
                f"(est FPR {f ** BLOOM_K:.3f}, ~{fill['n_est']:.0f} keys in "
                f"{m} bits) — the prefilter is saturating and its "
                f"probe-skip benefit is vanishing; rebuild with "
                f"bloom_bits>={bloom_bits_for(est)} (delete the sidecar "
                f"{bloom.path} to trigger the backfill at the new size; "
                "correctness is unaffected either way)",
                file=sys.stderr,
            )

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        spark = batch.sparkSession
        basis = norm_expr(F.col("text")) if normalized else F.col("text")
        # digest, bucket and the within-batch winner in one pass, decided
        # ONCE by one checkpoint: every row whose doc_id is its digest's
        # minimum. The checkpoint's own job also answers both sizing
        # questions: the row total (write shape, adaptive skip) and the
        # touched buckets (pruned probe)
        keep, k_m = _observed_checkpoint(
            corpus.tag(
                batch.withColumn("digest", F.sha2(F.coalesce(basis, F.lit("")), 256))
            )
            .withColumn("_mn", F.min("doc_id").over(Window.partitionBy("digest")))
            .filter(F.col("doc_id") == F.col("_mn"))
            .drop("_mn"),
            n=F.count(F.lit(1)),
            buckets=F.collect_set("dig_bucket"),
        )
        batch_rows = int(k_m["n"])
        touched = [int(b) for b in k_m["buckets"]]
        corpus_exists = table_has_data(spark, corpus.path)
        if ledger_path is not None and not ledger_state["reconciled"]:
            # first batch after a (re)start, before its append: heal the
            # ledger's crash window (corpus append landed, ledger did not)
            _ledger_reconcile(spark, corpus_path, ledger_path)
            ledger_state["reconciled"] = True
        prefilter_active = False
        if bloom_prefilter:
            if bloom.bits is None:  # first batch: hydrate, backfill or start empty
                row = bloom.load(spark)
                if row is not None:
                    bloom.adopt(row)
                    _note_fill("sidecar hydration")
                elif corpus_exists:
                    bloom.bits = _bloom_or_of_keys(
                        spark.read.parquet(corpus.path).select(
                            F.xxhash64("digest").alias("dig_key")
                        ),
                        bloom.nbits,
                    )
                    _note_fill("corpus backfill")
                else:
                    import numpy as np

                    bloom.bits = np.zeros(bloom.nbits >> 3, dtype=np.uint8)
            prefilter_active = corpus_exists and (
                fill["n_est"] >= BLOOM_PREFILTER_MIN_RATIO * max(batch_rows, 1)
            )
        if prefilter_active:
            bc = spark.sparkContext.broadcast(bytes(bloom.bits))
            # the suspect count and touched buckets ride the checkpoint's
            # own job instead of two more jobs
            flags, s_m = _observed_checkpoint(  # the broadcast probe, ONCE
                bloom.probe(
                    keep.withColumn("dig_key", F.xxhash64("digest")), bc,
                    "dig_key", ["digest", "doc_id", "dig_bucket"],
                    "digest string, doc_id long, dig_bucket long",
                ),
                n=F.count(F.lit(1)),
                buckets=F.collect_set("dig_bucket"),
            )
            n_suspect = int(s_m["n"])
            suspect_buckets = [int(b) for b in s_m["buckets"]]
            bc.unpersist(blocking=False)  # flags materialized above
        # a batch with zero suspects skips the corpus read outright: the
        # Bloom negative is definitive
        seen = None
        if not (prefilter_active and n_suspect == 0):
            seen = corpus.probe(
                spark, suspect_buckets if prefilter_active else touched,
                has_data=corpus_exists,
            )
        if seen is not None:
            seen = seen.select("digest")
            if prefilter_active:
                dup = flags.join(seen, "digest").select("digest", "doc_id")
                keep = keep.join(dup, ["digest", "doc_id"], "left_anti")
            else:
                keep = keep.join(seen, "digest", "left_anti")
        if bloom_prefilter:
            # fold the admitted keys in and persist BEFORE the append
            keep = keep.localCheckpoint()  # freeze: feeds keys AND append
            bloom.bits |= _bloom_or_of_keys(
                keep.select(F.xxhash64("digest").alias("dig_key")), bloom.nbits
            )
            _note_fill(f"fold (batch {batch_id})")
            bloom.persist(spark, (int(batch_id),), "last_batch long")
        elif ledger_path is not None and corpus_exists:
            # freeze the probed frame once: the ledger's partial collect
            # and the append would each re-run the anti-join otherwise
            keep = keep.localCheckpoint()
        corpus.write(keep, batch_rows)
        if ledger_path is not None:
            _ledger_append_batch(
                spark, keep, ledger_path, int(batch_id), ledger_state
            )

    return docs.writeStream.foreachBatch(_ingest)


# ------------------------------------- incremental snapshot ledger

LEDGER_COLS = ["dig_bucket", "version", "n_docs", "fp", "bytes_sum"]
LEDGER_COMPACT_EVERY = 16


def _ledger_partial(rows: DataFrame) -> DataFrame:
    """Per-bucket abelian summary of a set of corpus rows: row count,
    xor-fold of the digest hashes (order- and partition-independent),
    and total text bytes. Every column is a commutative-group aggregate,
    so a batch partial merges into the previous cumulative state by
    (+, xor, +) without touching the corpus — the property the whole
    incremental design leans on. The exact gate guarantees each digest
    appears ONCE in the corpus, so the xor fingerprint is well-defined
    (a multiset would let pairs cancel). dig_bucket is cast to long
    explicitly: read back from the corpus it is an int32 PARTITION
    column, in-flight it is xxhash64-derived int64, and mixed-width
    ledger files fail the vectorized parquet reader."""
    rows = rows.withColumn("dig_bucket", F.col("dig_bucket").cast("long"))
    return rows.groupBy("dig_bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.bit_xor(F.xxhash64("digest")).alias("fp"),
        F.sum(F.coalesce(F.length("text"), F.lit(0)))
        .cast("long").alias("bytes_sum"),
    )


def ledger_recompute(
    spark: SparkSession, corpus_path: str, buckets: list[int] | None = None
) -> DataFrame:
    """Ground-truth per-bucket state from the corpus itself — the "full
    rebuild" side of the incremental-vs-rebuild validation the batch
    ``snapshot_diff`` docstring describes. With ``buckets`` the read
    partition-prunes to exactly those buckets (the corpus is
    PARTITIONED BY dig_bucket), which is what makes healing grouping-
    aware instead of corpus-scale."""
    c = spark.read.parquet(corpus_path)
    if buckets is not None:
        c = c.filter(F.col("dig_bucket").isin([int(b) for b in buckets]))
    return _ledger_partial(c)


def snapshot_ledger_state(
    spark: SparkSession, ledger_path: str, version: int | None = None
) -> DataFrame:
    """Corpus snapshot state AT ``version`` (latest when None): per
    bucket, the ledger row with the highest version <= V — rows are
    cumulative, so no fold over history is needed. O(ledger) work; the
    ledger holds one row per (batch, touched bucket), never
    corpus-proportional. The per-bucket row_number window partitions on
    dig_bucket, so it parallelizes across buckets."""
    from pyspark.sql.window import Window

    led = spark.read.parquet(ledger_path)
    if version is not None:
        led = led.filter(F.col("version") <= int(version))
    w = Window.partitionBy("dig_bucket").orderBy(F.col("version").desc())
    return (
        led.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot_ledger_diff(
    spark: SparkSession, ledger_path: str, v_old: int,
    v_new: int | None = None,
) -> DataFrame:
    """Grouping-aware snapshot diff: what the corpus gained between
    ingest versions ``v_old`` and ``v_new`` (latest when None), as one
    row PER CHANGED BUCKET — untouched buckets never appear and never
    cost I/O. Columns: dig_bucket, change_type ('new_bucket' | 'grown'),
    n_added, bytes_added, fp_old, fp_new. The corpus is append-only
    under the exact gate, so buckets only grow; a 'removed'/'changed'
    classification (batch ``snapshot_diff``) cannot arise, and
    fp_old != fp_new certifies the content actually changed rather than
    merely the count. At 100 TB this is two O(buckets) ledger reads and
    one bucket-keyed join — the corpus itself is never opened."""
    old = snapshot_ledger_state(spark, ledger_path, v_old).select(
        "dig_bucket", F.col("n_docs").alias("n_old"),
        F.col("fp").alias("fp_old"), F.col("bytes_sum").alias("b_old"),
    )
    new = snapshot_ledger_state(spark, ledger_path, v_new).select(
        "dig_bucket", F.col("n_docs").alias("n_new"),
        F.col("fp").alias("fp_new"), F.col("bytes_sum").alias("b_new"),
    )
    j = new.join(old, "dig_bucket", "left_outer")
    return (
        j.filter(
            F.col("n_old").isNull()
            | (F.col("n_new") != F.col("n_old"))
            | (F.col("fp_new") != F.col("fp_old"))
        )
        .select(
            "dig_bucket",
            F.when(F.col("n_old").isNull(), "new_bucket")
            .otherwise("grown").alias("change_type"),
            (F.col("n_new") - F.coalesce(F.col("n_old"), F.lit(0)))
            .alias("n_added"),
            (F.col("b_new") - F.coalesce(F.col("b_old"), F.lit(0)))
            .alias("bytes_added"),
            "fp_old", "fp_new",
        )
    )


def _ledger_versions(spark: SparkSession, ledger_path: str) -> int:
    """Highest version in the ledger, -1 when absent/empty."""
    if not table_has_data(spark, ledger_path):
        return -1
    row = spark.read.parquet(ledger_path).agg(F.max("version")).first()
    return -1 if row[0] is None else int(row[0])


def _ledger_reconcile(
    spark: SparkSession, corpus_path: str, ledger_path: str
) -> None:
    """Heal the ledger at stream (re)start, BEFORE the first batch's
    corpus append — at that moment ledger and corpus must agree exactly,
    so any divergence is the crash window (corpus append landed, ledger
    append did not). Detection is cheap: per-bucket corpus row counts
    (a scan of the partition column only) against the ledger state;
    only divergent buckets are recomputed, partition-pruned. A missing
    ledger over a populated corpus bootstraps via full recompute
    (version 0), so the ledger can be adopted by a pre-existing corpus.
    The reverse divergence — a ledger bucket the corpus lacks — cannot
    arise from the gate's write ordering (corpus first) and is left to
    fail loudly in validation rather than silently "healed"."""
    corpus_live = table_has_data(spark, corpus_path)
    if not table_has_data(spark, ledger_path):
        if corpus_live:
            rows = ledger_recompute(spark, corpus_path).withColumn(
                "version", F.lit(0).cast("long")
            )
            rows.select(*LEDGER_COLS).coalesce(1).write.mode(
                "append"
            ).parquet(ledger_path)
        return
    if not corpus_live:
        return
    state = snapshot_ledger_state(spark, ledger_path)
    counts = spark.read.parquet(corpus_path).groupBy("dig_bucket").count()
    divergent = [
        int(r.dig_bucket)
        for r in counts.join(state, "dig_bucket", "left_outer")
        .filter(F.col("n_docs").isNull() | (F.col("count") != F.col("n_docs")))
        .select("dig_bucket")
        .collect()  # O(buckets) control-plane read, never row-proportional
    ]
    if not divergent:
        return
    v = _ledger_versions(spark, ledger_path) + 1
    corrected = ledger_recompute(spark, corpus_path, divergent).withColumn(
        "version", F.lit(v).cast("long")
    )
    corrected.select(*LEDGER_COLS).coalesce(1).write.mode("append").parquet(
        ledger_path
    )


def _ledger_append_batch(
    spark: SparkSession, admitted: DataFrame, ledger_path: str,
    batch_id: int, state: dict,
) -> None:
    """Fold one batch's admitted rows into the ledger: per touched
    bucket, write a NEW CUMULATIVE row at a version strictly above every
    existing one (``max(batch_id, current_max + 1)`` — batch ids restart
    at 0 under a fresh checkpoint, so batch_id alone could collide). A
    batch that admitted nothing writes nothing: the state carries
    forward implicitly, keeping the ledger proportional to *useful*
    ingestion. Runs AFTER the corpus append (the gate's only ordered
    pair); the crash window between the two is healed by
    ``_ledger_reconcile`` at next start.

    Cost discipline: re-reading the ledger's max version and full state
    every batch measured 1.39x the plain gate at micro-batch sizes
    (5,000 docs in 8 batches), pure overhead-bound jobs; the carried
    state below brought it to 1.20x, about 0.36 s a batch
    (``tools/gate_arm.py`` arms ``plain`` and ``ledger`` time the gate
    without and with it). The state is
    O(buckets), so it CARRIES in driver memory across batches
    (hydrated once after the reconcile — the same carry idiom as the
    global-sketch sinks), leaving exactly one extra Spark job per
    admitting batch: the per-bucket partial collect (O(touched buckets)
    rows, control-plane by construction) feeding a driver-side abelian
    merge and one tiny append. The in-memory mirror cannot diverge from
    the parquet ledger: both are written from the same merged rows, and
    a crash between them is the same window the reconcile already
    heals. Appends compact through ``_append_or_compact`` every
    LEDGER_COMPACT_EVERY batches, bounding the file count across
    restarts (the counter seeds from the live file count)."""
    if "state" not in state:  # hydrate the carry once per stream start
        if table_has_data(spark, ledger_path):
            state["state"] = {
                int(r.dig_bucket): (int(r.n_docs), int(r.fp), int(r.bytes_sum))
                for r in snapshot_ledger_state(spark, ledger_path).collect()
            }
            state["vmax"] = _ledger_versions(spark, ledger_path)
        else:
            state["state"], state["vmax"] = {}, -1
    partial = _ledger_partial(admitted).collect()  # O(touched buckets)
    if not partial:
        return
    version = max(int(batch_id), state["vmax"] + 1)
    carry: dict = state["state"]
    rows = []
    for r in partial:
        b = int(r.dig_bucket)
        n0, fp0, by0 = carry.get(b, (0, 0, 0))
        merged = (n0 + int(r.n_docs), fp0 ^ int(r.fp), by0 + int(r.bytes_sum))
        carry[b] = merged
        rows.append((b, version, *merged))
    state["vmax"] = version
    # single-slice parallelize: the frame is born with ONE partition, so
    # the append below never pays coalesce(1)'s scheduling detour
    # (measured ~1.5s/batch on an 8-partition local frame vs ~0.4s here)
    out = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "dig_bucket long, version long, n_docs long, fp long, bytes_sum long",
    )
    if state.get("appends") is None:
        state["appends"] = [max(fs_count_data_files(spark, ledger_path), 1)]
    _append_or_compact(out, ledger_path, state["appends"], LEDGER_COMPACT_EVERY)


def _fs_list_dirs(spark: SparkSession, path: str, prefix: str) -> list[str]:
    """Non-hidden directory names under ``path`` starting with ``prefix``
    (empty when the path is absent) — the bucket census for compaction."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]


def _compact_recover_corpus(spark: SparkSession, corpus_path: str) -> None:
    """Heal an interrupted per-bucket compaction. The compaction order is
    (1) write staging ``.compact_new_<dir>`` (hidden — Spark readers
    ignore dot-prefixed entries, so staging INSIDE the table root is
    invisible), (2) rename the live bucket dir to ``.compact_old_<dir>``,
    (3) rename staging in as the live dir, (4) delete old. Crash
    classification by what survives:

    - staging + live both present (crash before (2)): the staging may be
      stale relative to appends that happened since — delete staging;
    - staging present, live missing (crash between (2) and (3)): the
      staging was fully written before the swap began — install it,
      then drop old;
    - old present, live present (crash after (3)): drop old;
    - old present, live missing, no staging (defensive; unreachable
      through the ordering above): restore old."""
    root = corpus_path.rstrip("/")
    for name in _fs_list_dirs(spark, root, ".compact_new_"):
        live = f"{root}/{name[len('.compact_new_'):]}"
        if table_exists(spark, live):
            fs_delete(spark, f"{root}/{name}")
        else:
            fs_rename(spark, f"{root}/{name}", live)
    for name in _fs_list_dirs(spark, root, ".compact_old_"):
        live = f"{root}/{name[len('.compact_old_'):]}"
        if table_exists(spark, live):
            fs_delete(spark, f"{root}/{name}")
        else:
            fs_rename(spark, f"{root}/{name}", live)


def compact_bucketed_corpus(
    spark: SparkSession, corpus_path: str, max_files_per_bucket: int = 4,
    partition_col: str = "dig_bucket", target_files: int = 1,
) -> list[tuple[str, int, int]]:
    """Maintenance pass for a bucket-partitioned streaming corpus: every
    micro-batch append leaves one small file per touched bucket, so a
    long-lived ingestion accretes the classic small-files problem —
    probe reads pay per-file open/footer costs that eventually dwarf the
    data. This rewrites every bucket holding more than
    ``max_files_per_bucket`` files down to ``target_files``, one bucket
    at a time, each through the hidden-staging swap described in
    ``_compact_recover_corpus`` (which runs first, healing any earlier
    interruption). Returns (bucket_dir, files_before, files_after) per
    compacted bucket.

    Scale shape: the census is an O(buckets) listing; each rewrite reads
    ONLY its bucket directory (physically partition-pruned — the path IS
    the partition) and rewrites it without touching siblings, so the
    pass costs O(oversized buckets' bytes), not O(corpus). Admission
    content is untouched: the snapshot ledger's per-bucket (count,
    digest-xor, bytes) state is invariant under compaction, which
    ``ledger_recompute`` validates end-to-end in the tests. Run it while
    the stream is stopped (or between batches from foreachBatch's
    serial context): the swap assumes no concurrent appends to the
    bucket being rewritten."""
    root = corpus_path.rstrip("/")
    _compact_recover_corpus(spark, root)
    out: list[tuple[str, int, int]] = []
    for name in sorted(_fs_list_dirs(spark, root, f"{partition_col}=")):
        live = f"{root}/{name}"
        n_files = fs_count_data_files(spark, live)
        if n_files <= max_files_per_bucket:
            continue
        staging = f"{root}/.compact_new_{name}"
        old = f"{root}/.compact_old_{name}"
        fs_delete(spark, staging)
        (
            spark.read.parquet(live)
            .coalesce(target_files)
            .write.mode("overwrite")
            .parquet(staging)
        )
        fs_rename(spark, live, old)
        fs_rename(spark, staging, live)
        fs_delete(spark, old)
        out.append((name, n_files, fs_count_data_files(spark, live)))
    return out


# ------------------------------------------- decontamination gate

DECON_BUCKETS = 64


def write_benchmark_grams(
    spark: SparkSession, bench_docs: DataFrame, path: str, n: int = 5
) -> int:
    """One-time materialization of a held-out benchmark's DISTINCT
    word n-grams — the probe set ``write_decontaminated`` gates
    against. Returns the gram count (which also sizes the gate's
    static Bloom). Batch job, run once per benchmark release."""
    from ..functions.text import word_shingles

    (
        bench_docs.select(
            F.explode(word_shingles(F.col("text"), n)).alias("gram")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).count()


def write_decontaminated(
    docs: DataFrame, benchmark_grams: str, out_path: str, n: int = 5,
    bloom_bits: int | None = None,
):
    """STREAMING DECONTAMINATION gate, an ingestion front door beside
    the exact-digest and MinHash-LSH dedup gates: a doc sharing
    any word n-gram with a held-out benchmark set (the probe set the
    batch twin ``contamination_ngram_hits`` joins against) is routed to
    a ``<out>_quarantine`` verdict table with its distinct-hit count;
    clean docs are admitted to ``out_path``. Verdicts equal the batch
    twin's row for row: a Bloom false positive costs one small join, a
    false negative cannot happen, and the confirm join is exact.

    The benchmark's gram keys live in a static Bloom filter built once
    (distributed, ``_bloom_or_of_keys``) and persisted to a
    ``<out>_benchbloom`` sidecar; a restart hydrates it, a crash
    mid-build leaves it absent and the next start rebuilds. Per batch
    every exploded gram probes the broadcast filter executor-side, a
    batch with zero maybe-hits never opens the benchmark parquet, and
    only suspect docs' grams take the exact broadcast confirm join.
    ``bloom_bits=None`` sizes the filter with ``bloom_bits_for`` the gram
    count (~1% per-gram FPR). What matters is the per-DOC rate,
    1-(1-fpr)^grams_per_doc: at 1% a ~200-gram clean doc is a suspect
    ~87% of the time, so the confirm join still runs on clean batches.
    Sized for per-gram FPR ~ doc_fpr_target / grams_per_doc (2^26 bits,
    an 8 MiB broadcast, for a ~25k-gram benchmark), clean batches skip
    it: 1.4-1.7x end to end on all-clean streams at sf0.1, while
    10%-contaminated batches run at ~0.35x the clean rate
    (BENCH_decon_volume.json; ``tools/gate_arm.py`` arms
    ``decon_clean_auto``, ``decon_clean_sized`` and
    ``decon_contaminated``). ``bloom_bits`` that disagrees with a valid
    sidecar's width raises (delete the sidecar to resize).

    The sidecar records the probe set's identity (gram count, xor of the
    hashed grams, shingle width) and hydration checks it against the
    live benchmark: a regenerated benchmark would otherwise leave a stale
    filter whose false negatives admit contamination, so a mismatch
    rebuilds loudly. The first batch of each gate instance therefore
    reads the benchmark once. If the benchmark is unreadable then and a
    sidecar with identity and the same shingle width exists, the gate
    warns and trusts it: suspect batches still fail at the confirm join
    until the benchmark is readable again, and a filter can only go
    stale through a regeneration, which makes the benchmark readable.

    Replay safety: the filter is read-only, so a replayed batch
    re-derives identical verdicts. Both sinks are bucketed by doc_id
    (``DECON_BUCKETS``) and each append first anti-joins its rows
    against the buckets they touch, so appends are idempotent; the
    quarantine is appended before the admitted sink. Raises ValueError
    when ``bloom_bits`` is not a power of two >= 8."""
    from ..functions.text import word_shingles

    _check_bloom_bits(bloom_bits)
    admitted = _BucketedTable(out_path, "doc_bucket", ("doc_id",), DECON_BUCKETS)
    quarantine = _BucketedTable(
        out_path.rstrip("/") + "_quarantine", "doc_bucket", ("doc_id",),
        DECON_BUCKETS,
    )
    bloom = _BloomSidecar(out_path.rstrip("/") + "_benchbloom", bloom_bits)
    state: dict[str, object] = {"bc": None, "bench": None}

    def _frozen(rows: DataFrame) -> tuple[DataFrame, int, list[int]]:
        """``rows`` checkpointed, with its row count and touched buckets."""
        rows, m = _observed_checkpoint(
            rows, n=F.count(F.lit(1)), buckets=F.collect_set(admitted.col)
        )
        return rows, int(m["n"]), [int(b) for b in m["buckets"]]

    def _append_new(
        spark, table: _BucketedTable, rows: DataFrame, n_rows: int, buckets: list
    ) -> None:
        """Replay-idempotent append of a ``_frozen`` frame: drop rows
        already in the touched buckets, then append. An empty frame is
        never written: appending one to a sink that does not exist yet
        would leave a file-less directory."""
        if n_rows == 0:
            return
        seen = table.probe(spark, buckets)
        if seen is not None:
            rows = rows.join(seen.select("doc_id"), "doc_id", "left_anti")
        table.write(rows, n_rows)

    def _hydrate(spark) -> None:
        """Hydrate the filter from a sidecar whose identity matches the
        live benchmark, or build and persist it."""
        # the probe set's identity, one aggregate over the benchmark; an
        # unreadable benchmark is held and re-raised on every path that
        # needs the read
        n_grams = grams_xor = None
        bench_err: Exception | None = None
        try:
            keys = spark.read.parquet(benchmark_grams).select(
                F.xxhash64("gram").alias("k")
            )
            ident = keys.agg(
                F.count("*").alias("n_grams"),
                F.expr("bit_xor(k)").alias("grams_xor"),
            ).collect()[0]
            n_grams = int(ident.n_grams)
            grams_xor = int(ident.grams_xor or 0)
        except Exception as ex:  # noqa: BLE001 — held; re-raised on
            bench_err = ex       # every path that needs the read
        row = bloom.load(spark)
        if row is not None:
            has_identity = "n_grams" in row.__fields__
            if bench_err is not None and not has_identity:
                raise bench_err  # pre-identity sidecar: must rebuild
            if bench_err is not None and int(row.shingle_n) != n:
                # a sidecar over other-length shingles can never be
                # trusted: its probes would pass contaminated docs
                raise ValueError(
                    f"decon bloom sidecar {bloom.path} was built "
                    f"over {int(row.shingle_n)}-shingles but this "
                    f"gate runs n={n}; refusing the trust-sidecar "
                    f"restart while the benchmark at "
                    f"{benchmark_grams} is unreadable"
                ) from bench_err
            if bench_err is not None:
                print(
                    f"WARNING [decon-gate] benchmark set at "
                    f"{benchmark_grams} is unreadable ({bench_err}); "
                    f"trusting the identity-carrying sidecar "
                    f"{bloom.path} so the restart can proceed — "
                    "if the benchmark was REGENERATED before it "
                    "became unreadable, this filter is stale; "
                    "suspect batches will fail loudly at the exact "
                    "confirm join until the benchmark is readable",
                    file=sys.stderr,
                )
            current = bench_err is not None or (
                has_identity  # pre-identity sidecars rebuild
                and int(row.n_grams) == n_grams
                and int(row.grams_xor) == grams_xor
                and int(row.shingle_n) == n
            )
            if current:
                bloom.adopt(row)
            else:
                print(
                    f"WARNING [decon-gate] sidecar {bloom.path} does "
                    f"not match the live benchmark set at {benchmark_grams} "
                    f"(stored identity vs current n_grams={n_grams} "
                    f"grams_xor={grams_xor} n={n}) — a stale filter's "
                    "false negatives would silently admit contamination; "
                    "rebuilding from the current benchmark",
                    file=sys.stderr,
                )
        if bloom.bits is None:
            if bench_err is not None:
                raise bench_err  # build/rebuild requires the keys
            if bloom.nbits is None:
                bloom.nbits = bloom_bits_for(n_grams)
            bloom.bits = _bloom_or_of_keys(keys, bloom.nbits)
            bloom.persist(
                spark, (-1, n_grams, grams_xor, n),
                "last_batch long, n_grams long, grams_xor long, shingle_n long",
            )

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if state["bc"] is None:
            _hydrate(spark)
            # the filter is static: broadcast it once per gate instance
            # (re-broadcasting up to 8 MiB a batch is wasted work that
            # scales with filter size x batch cadence) and free the
            # driver copy; foreachBatch has no stop hook, so the
            # broadcast and the cached benchmark live as long as the gate
            state["bc"] = spark.sparkContext.broadcast(bytes(bloom.bits))
            bloom.bits = None
        b, n_b, b_buckets = _frozen(admitted.tag(batch))  # shingle ONCE below
        grams = b.select(
            "doc_id",
            F.explode(word_shingles(F.col("text"), n)).alias("gram"),
        ).withColumn("k", F.xxhash64("gram"))
        suspects, s_m = _observed_checkpoint(  # the broadcast probe, ONCE
            bloom.probe(grams, state["bc"], "k", ["doc_id"], "doc_id long")
            .distinct(),
            n=F.count(F.lit(1)),
        )
        if int(s_m["n"]) > 0:
            # exact confirm: only suspect docs' grams join the benchmark
            # set (broadcast: the probe set is small by construction),
            # persisted once and reused across suspect batches
            if state["bench"] is None:
                state["bench"] = (
                    spark.read.parquet(benchmark_grams).select("gram").persist()
                )
            cont, n_cont, cont_buckets = _frozen(  # quarantine AND anti-join
                admitted.tag(
                    grams.join(suspects, "doc_id")
                    .join(F.broadcast(state["bench"]), "gram")
                    .groupBy("doc_id")
                    .agg(F.countDistinct("gram").alias("n_gram_hits"))
                    .withColumn("batch_id", F.lit(int(batch_id)))
                )
            )
            # an all-false-positive batch writes no quarantine at all
            if n_cont > 0:
                _append_new(spark, quarantine, cont, n_cont, cont_buckets)
                b, n_b, b_buckets = _frozen(
                    b.join(cont.select("doc_id"), "doc_id", "left_anti")
                )
        _append_new(spark, admitted, b, n_b, b_buckets)

    return docs.writeStream.foreachBatch(_ingest)


# --------------------------------------------------------------- bloom

BLOOM_BITS = 1 << 20  # 128 KiB of bits per shard
BLOOM_K = 4  # hash functions; FPR ~ (1 - e^{-kn/m})^k
BLOOM_SHARDS = 4
# exact-gate prefilter tuning: evaluate the membership
# prefilter only once the filter's own key estimate says the corpus is
# at least this many times the batch — below that the evaluation's
# fixed per-batch jobs cost more than the tiny probe they can skip
# (measured 1.39x the plain gate's wall at corpus == batch, 1.22x with
# the skip; ``tools/gate_arm.py`` arms ``plain`` and ``bloom``)
BLOOM_PREFILTER_MIN_RATIO = 8
# one-shot saturation warning threshold: fill 0.5 with k=4 is ~6% FPR,
# the knee past which the prefilter's probe-skip benefit decays fast
BLOOM_FILL_WARN = 0.5
# fixed odd 64-bit salts, one per hash function: XORed into the key
# before the splitmix64 finalizer so the k probes are independent hash
# functions of the same key (the _CMS_ROW_SALTS construction; distinct
# constants so bloom and CMS configurations stay decoupled)
_BLOOM_SALTS = (
    0xA0761D6478BD642F,
    0xE7037ED1A0B428DB,
    0x8EBC6AF09C88C6E3,
    0x589965CC75374CC3,
)


_POPCOUNT_LUT = None  # built lazily: 256-entry bits-per-byte table


def _bloom_popcount(bits) -> float:
    """Set-bit count of a packed filter via a byte LUT — the temporary
    is |bits| int64 elements instead of np.unpackbits' 8x uint8 blow-up
    (which at a corpus-sized filter is a GiB-scale allocation per
    call)."""
    import numpy as np

    global _POPCOUNT_LUT
    if _POPCOUNT_LUT is None:
        _POPCOUNT_LUT = np.unpackbits(
            np.arange(256, dtype=np.uint8)[:, None], axis=1
        ).sum(axis=1).astype(np.int64)
    return float(_POPCOUNT_LUT[bits].sum())


def _bloom_nbits(bits) -> int:
    """Filter width in bits, derived from the ARRAY — update and query
    can then never disagree with the array they operate on, and a
    sidecar persisted at one size can never be probed at another
    (the mask comes from the blob, not a constant). Must be a power of
    two for the mask to be a mask."""
    n = int(bits.size) << 3
    if n == 0 or n & (n - 1):
        raise ValueError(f"bloom filter width {n} bits is not a power of two")
    return n


def _bloom_positions(ids, j: int, nbits: int):
    """Bit position of every key in ``ids`` for hash function ``j`` —
    the splitmix64 finalizer over the salt-perturbed key, masked to the
    filter width. Vectorized, shared by update and query so the two can
    never disagree."""
    import numpy as np

    h = _hll_hash64(ids.astype(np.uint64) ^ np.uint64(_BLOOM_SALTS[j]))
    return (h & np.uint64(nbits - 1)).astype(np.int64)


def _bloom_update(bits, ids) -> None:
    """Fold a batch of int64 keys into the packed bit array (uint8,
    width/8 bytes) in place — one vectorized bitwise_or.at per hash
    function. Setting bits is idempotent and commutative, which is what
    gives the sketch its exact merge and replay identities."""
    import numpy as np

    if ids.size == 0:
        return
    nbits = _bloom_nbits(bits)
    for j in range(BLOOM_K):
        pos = _bloom_positions(ids, j, nbits)
        np.bitwise_or.at(
            bits, pos >> 3, np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8))
        )


def _bloom_query(bits, ids):
    """Boolean array: True where ALL k probe bits are set (key possibly
    seen), False guarantees the key was never inserted — the one-sided
    error a dedup/membership gate can build on."""
    import numpy as np

    nbits = _bloom_nbits(bits)
    out = np.ones(ids.size, dtype=bool)
    for j in range(BLOOM_K):
        pos = _bloom_positions(ids, j, nbits)
        out &= (
            bits[pos >> 3] & np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8))
        ) != 0
    return out


_BLOOM_STATE_SCHEMA = "bits binary, n long"
_BLOOM_SPEC = (
    "uint8", (BLOOM_BITS >> 3,),
    "filter size {} != BLOOM_BITS/8 = {}; summaries from different bloom "
    "configurations do not merge",
)
_BLOOM_OUT_SCHEMA = "shard long, shard_n long, bits binary"


def streaming_seen_bloom(events: DataFrame, shards: int = BLOOM_SHARDS) -> DataFrame:
    """Streaming set MEMBERSHIP via a Bloom filter in group state
    (``_packed_sketch``): "might this key have appeared?", the primitive
    behind at-scale dedup admission, join pre-filtering, and
    already-processed checks, in BLOOM_BITS bits per shard instead of a
    key set that grows with the stream.

    Guarantees (all pinned in tests): NO false negatives ever — every
    inserted key queries True, deterministically; false positives are
    one-sided and bounded by the classic (1 - e^{-kn/m})^k curve; and
    because setting bits is idempotent and commutative, the element-wise
    OR of per-shard filters is EXACTLY the filter of the concatenated
    stream (zero merge error, byte-identical — the strongest of the
    sketch merge identities alongside the reservoir's) and replaying any
    batch is a bit-level no-op. Sharding is by ``event_id % shards``
    (the throughput topology, as with HLL/CMS); each micro-batch emits
    the shard's packed bit array + event count; the latest row per
    shard feeds ``bloom_merged_bits``."""
    return _packed_sketch(
        events, shards, blob="bits", spec=_BLOOM_SPEC, fold=_bloom_update,
        out_schema=_BLOOM_OUT_SCHEMA, state_schema=_BLOOM_STATE_SCHEMA,
    )


def bloom_merged_bits(blobs: list):
    """GLOBAL filter from per-shard bit arrays: element-wise OR is
    exactly the filter a single global Bloom would hold (bit-setting is
    idempotent + commutative), so membership answers on the merge carry
    the single-filter guarantee at the global n. Pure function over the
    ``bits`` payloads ``streaming_seen_bloom`` emits."""
    import numpy as np

    merged = np.zeros(BLOOM_BITS >> 3, dtype=np.uint8)
    for b in blobs:
        merged |= _unpack(b, *_BLOOM_SPEC)
    return merged


def bloom_might_contain(blobs: list, keys) -> dict[int, bool]:
    """Membership answers for ``keys`` against the merged global filter:
    False is definitive (never inserted anywhere), True is
    possibly-seen within the FPR bound."""
    import numpy as np

    merged = bloom_merged_bits(blobs)
    ks = np.asarray(list(keys), dtype=np.int64)
    ans = _bloom_query(merged, ks)
    return {int(k): bool(v) for k, v in zip(ks, ans)}


def write_global_bloom(
    summaries: DataFrame, out_path: str, probe_keys, compact_every: int = 16
):
    """Operationalize the Bloom merge as a LIVE pipeline: consume
    ``streaming_seen_bloom`` rows in foreachBatch, carry each shard's
    latest bit array across micro-batches and restarts
    (``_global_merge_fn``), OR them — byte-exactly the single global
    filter, see ``bloom_merged_bits`` — and append one (batch_id, key,
    seen, n_total, fill_ratio) row per probed key per micro-batch to the
    parquet time series. ``probe_keys`` is the fixed watch list (point
    queries, as with the CMS sink); ``fill_ratio`` (set bits / m) is the
    live health stat — the implied false-positive rate is
    fill_ratio**k, so a monitoring panel sees saturation coming."""
    keys = [int(k) for k in probe_keys]

    def emit(batch_id: int, rows: list, n_total: int) -> list[tuple]:
        import numpy as np

        merged = bloom_merged_bits([r.bits for r in rows])
        ans = _bloom_query(merged, np.asarray(keys, dtype=np.int64))
        fill = _bloom_popcount(merged) / BLOOM_BITS
        return [
            (int(batch_id), k, bool(a), int(n_total), fill)
            for k, a in zip(keys, ans.tolist())
        ]

    return summaries.writeStream.outputMode("update").foreachBatch(
        _global_merge_fn(
            out_path,
            out_schema=(
                "batch_id long, key long, seen boolean, n_total long, "
                "fill_ratio double"
            ),
            compact_every=compact_every, emit=emit,
        )
    )
