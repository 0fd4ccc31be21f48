"""Traced run: per-layer metrics of one workload.

Every layer is timed from the benchmark's side of its public interface;
the program is not edited or wrapped. For the workload's own inputs the
run reports:

- ``session``: session start and warm-up, the parts of ``setup_s``;
- ``spark``: jobs, stages, tasks, shuffle, spill, GC and executor time of
  each traced pass, folded from Spark's uncompressed event log;
- ``stream`` and ``state``: medians over micro-batches of the streaming
  query's progress (``durationMs`` and the state operator);
- ``npm``: the marginal time of each prefix of the public
  ``operators/npm`` chain run to the noop sink, and its row counts;
- ``source``: direct ``NpmRegistryStreamReader.read`` calls over slices;
- ``fetch``: ``ThrottledFetcher`` over ``ReplayTransport`` with a
  transcript that adds 5xx, 429 and connection-error outcomes, and a
  no-op ``sleep``;
- ``proc.peak_rss_mb``: peak RSS of the process tree while Spark runs;
- ``baseline.local1_wall_s``: one pass of the same job at local[1];
- ``trace.overhead_frac``: traced over untraced pass time, minus one.

On ``batch_docs`` the stream layers run a fixture-mode stream over the
batch inputs, so every traced run measures every layer.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from collections import Counter

import gen
import harness

EVENT_LOG_DIR = os.path.join(harness.WORK, "eventlog")
NPM_REPS = 3
FETCH_MAX_RETRIES = 3
FETCH_FAULTS = ("error", 503, 429)  # transient outcomes put before the answer
FETCH_FAULT_SHARE = 0.2


class EventLog:
    """Incremental reader of one application's event log that folds task
    metrics per Spark job group (a batch pass's group, or a streaming
    query's run id)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.path = os.path.join(EVENT_LOG_DIR, self.sc.applicationId + ".inprogress")
        self.offset = 0
        self.partial = b""
        self.stage_group: dict[int, str | None] = {}
        self.ended: set[int] = set()
        self.totals: dict[str | None, Counter] = {}

    def _read(self) -> None:
        with open(self.path, "rb") as f:
            f.seek(self.offset)
            data = f.read()
        self.offset += len(data)
        *lines, self.partial = (self.partial + data).split(b"\n")
        for line in lines:
            self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for stage in e["Stage IDs"]:
                self.stage_group.setdefault(stage, group)
            self.totals.setdefault(group, Counter())["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            self.ended.add(e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            group = self.stage_group.get(e["Stage Info"]["Stage ID"])
            self.totals.setdefault(group, Counter())["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            t = self.totals.setdefault(self.stage_group.get(e["Stage ID"]), Counter())
            t["tasks"] += 1
            t["executor_run_ms"] += m.get("Executor Run Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            t["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

    def fold(self, group: str, timeout: float = 60.0) -> Counter:
        """Totals of ``group`` once every job Spark ran for it has ended in
        the log (the listener writes asynchronously)."""
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout
        self._read()
        while not jobs <= self.ended:
            if time.monotonic() > deadline:
                raise TimeoutError(f"event log lacks the end of jobs {sorted(jobs - self.ended)}")
            time.sleep(0.05)
            self._read()
        return self.totals.pop(group, Counter())


def event_log_conf() -> dict[str, str]:
    os.makedirs(EVENT_LOG_DIR, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + EVENT_LOG_DIR,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# ------------------------------------------------------------ passes


SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_ms",
    "executor_run_ms",
)
PROGRESS_KEYS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}
STATE_KEYS = {
    "state.rows_total": "numRowsTotal",
    "state.rows_updated": "numRowsUpdated",
    "state.memory_bytes": "memoryUsedBytes",
    "state.commit_ms": "commitTimeMs",
    "state.updates_ms": "allUpdatesTimeMs",
}


def fold_pass(runner: harness.Runner, log: EventLog, n_cpus: int, folds: list[dict], progress: list[dict]):
    """A ``harness.measure`` callback: folds each traced pass from the event
    log into ``folds`` and keeps the progress of its micro-batches."""

    def each(wall: float) -> None:
        fold = log.fold(runner.last_group)
        row = {f"spark.{k}": fold[k] for k in SPARK_KEYS}
        row["spark.core_busy_frac"] = fold["executor_run_ms"] / (wall * 1000 * n_cpus)
        folds.append(row)
        progress.extend(runner.last_progress)

    return each


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    out = {name: statistics.median(p["durationMs"].get(key, 0) for p in progress) for name, key in PROGRESS_KEYS.items()}
    states = [p["stateOperators"][0] for p in progress]
    out.update({name: statistics.median(s[key] for s in states) for name, key in STATE_KEYS.items()})
    out["stream.batches"] = len(progress)
    return out


def stream_probe(spark, workload: harness.Workload, inputs: gen.Inputs) -> tuple[harness.Runner, dict]:
    """The streaming flagship over a batch workload's inputs, fixture
    mode: warmed up, then one pass whose progress is reported."""
    probe = harness.Workload(workload.name + "_stream", "stream", workload.n_packages, "fixture", workload.rate)
    runner = harness.Runner(spark, probe, inputs, "stream_probe")
    harness.warm_up(runner, [])
    runner.timed()
    return runner, stream_metrics(runner.last_progress)


# ------------------------------------------------------------ layers


def npm_layers(spark, inputs: gen.Inputs) -> tuple[dict, bool]:
    """Marginal time of each prefix of the public npm chain, run to the
    noop sink (median of NPM_REPS interleaved rounds), and the chain's row
    counts. The second value is whether the row count matches the oracle."""
    from pyspark.sql import functions as F

    from akkastreamprocessnpmpackagedependencies_spark.operators import npm

    packages = npm.load_package_list(spark, inputs.packages_path)
    docs = spark.read.parquet(inputs.docs_path)
    steps = [
        ("join", lambda _: npm.attach_registry_docs(packages, docs)),
        ("parse", npm.parse_registry),
        ("explode", npm.explode_versions),
        ("count", npm.count_dependencies),
        ("accumulate", npm.accumulate_counts),
        ("report", npm.report),
    ]
    prefixes = []
    df = None
    for name, step in steps:
        df = step(df)
        prefixes.append((name, df))
    times: dict[str, list[float]] = {name: [] for name, _ in steps}
    for _ in range(NPM_REPS):
        for name, prefix in prefixes:
            t0 = time.perf_counter()
            prefix.write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
    out = {}
    previous = 0.0
    for name, _ in steps:
        total = statistics.median(times[name])
        out[f"npm.{name}_s"] = total - previous
        previous = total
    parsed = dict(prefixes)["parse"]
    out["npm.docs_in"] = packages.join(docs, "name", "inner").count()
    out["npm.docs_ok"] = dict(prefixes)["join"].count()
    out["npm.parse_yield"] = parsed.filter(F.col("parsed.versions").isNotNull()).count() / max(out["npm.docs_ok"], 1)
    out["npm.versions_out"] = dict(prefixes)["explode"].count()
    out["npm.rows_out"] = dict(prefixes)["report"].count()
    return out, out["npm.rows_out"] == len(inputs.expected_batch)


def source_layer(workload: harness.Workload, inputs: gen.Inputs) -> tuple[dict, bool]:
    """Direct ``read`` calls over every slice of the universe, in the
    source mode the workload's stream uses. The second value is whether
    the slices served exactly the rows the source should serve."""
    from akkastreamprocessnpmpackagedependencies_spark.sources.registry import NpmRegistryStreamReader

    if workload.mode == "replay":
        options = {
            "mode": "replay",
            "packages_path": inputs.packages_path,
            "transcript_path": inputs.transcript_path,
            "rate_per_sec": "0",
        }
        want = len(inputs.listed)
    else:
        options = {"docs_path": inputs.docs_path}
        want = inputs.n_docs
    reader = NpmRegistryStreamReader({"rate": str(workload.rate), **options})
    offset = reader.initialOffset()
    read_ms: list[float] = []
    rows = 0
    while True:
        t0 = time.perf_counter()
        batch, nxt = reader.read(offset)
        n = sum(1 for _ in batch)
        read_ms.append((time.perf_counter() - t0) * 1000)
        if not n:
            break
        rows += n
        offset = nxt
    return {
        "source.read_ms": statistics.median(read_ms),
        "source.rows_per_read": rows / max(len(read_ms) - 1, 1),
    }, rows == want


def fetch_layer(inputs: gen.Inputs, seed: int) -> tuple[dict, bool]:
    """ThrottledFetcher over ReplayTransport for every listed package, with
    transient faults before the answer of FETCH_FAULT_SHARE of them (some
    past the retry budget) and a no-op sleep. The second value is whether
    every call returned what the retry policy implies."""
    from akkastreamprocessnpmpackagedependencies_spark.fetch import ReplayTransport, ThrottledFetcher

    with open(inputs.transcript_path) as f:
        transcript = json.load(f)
    rng = random.Random(seed)
    names = inputs.listed
    expected = {}
    for name in names:
        answer = transcript.get(name, [404])
        faults = []
        if rng.random() < FETCH_FAULT_SHARE:
            faults = [rng.choice(FETCH_FAULTS) for _ in range(1 + int(rng.random() * (FETCH_MAX_RETRIES + 1)))]
        if faults:
            transcript[name] = faults + answer
        outcome = (faults + answer)[min(len(faults), FETCH_MAX_RETRIES)]
        code = 0 if outcome == "error" else outcome if isinstance(outcome, int) else outcome[0]
        expected[name] = code
    attempts = 0
    transport = ReplayTransport(transcript)

    def counted(name: str):
        nonlocal attempts
        attempts += 1
        return transport(name)

    fetcher = ThrottledFetcher(counted, rate_per_sec=0, max_retries=FETCH_MAX_RETRIES, sleep=lambda _s: None)
    t0 = time.perf_counter()
    got = {name: fetcher(name)[0] for name in names}
    elapsed = time.perf_counter() - t0
    calls = len(names)
    failed = sum(1 for c in got.values() if c == 0 or c >= 500 or c == 429)
    return {
        "fetch.calls": calls,
        "fetch.retries": attempts - calls,
        "fetch.failed": failed,
        "fetch.non200": sum(1 for c in got.values() if c != 200) - failed,
        "fetch.calls_per_s": calls / elapsed,
        "fetch.attempts_per_call": attempts / calls,
    }, got == expected


# ------------------------------------------------------------ the run


def run(workload: harness.Workload, seed: int, seconds: float) -> dict:
    n_cpus = harness.cpus()
    metrics: dict[str, float] = {}
    checks: list[bool] = []
    with harness.RssSampler() as rss:
        setup = harness.set_up(workload, seed, n_cpus)
        metrics["session.start_s"] = statistics.median(setup.session_s)
        metrics["session.warmup_s"] = statistics.median(setup.warmup_s)
        # half of ``seconds`` untraced, half traced, for trace.overhead_frac
        untraced = harness.measure(setup.runner, seconds / 2)
        inputs = setup.runner.inputs
        runners = list(setup.runners)

        setup.spark.stop()
        spark = harness.start_session(n_cpus, event_log_conf())
        log = EventLog(spark)
        runner = harness.Runner(spark, workload, inputs, "traced")
        runners.append(runner)
        harness.warm_up(runner, [])
        folds: list[dict] = []
        progress: list[dict] = []
        walls = harness.measure(runner, seconds / 2, fold_pass(runner, log, n_cpus, folds, progress))
        metrics.update({k: statistics.median(f[k] for f in folds) for k in folds[0]})
        metrics["trace.overhead_frac"] = statistics.median(walls) / statistics.median(untraced) - 1
        if workload.kind == "stream":
            metrics.update(stream_metrics(progress))
        else:
            probe, stream = stream_probe(spark, workload, inputs)
            runners.append(probe)
            metrics.update(stream)

        npm, ok = npm_layers(spark, inputs)
        metrics.update(npm)
        checks.append(ok)

        spark.stop()
        spark = harness.start_session(1)
        single = harness.Runner(spark, workload, inputs, "local1")
        runners.append(single)
        single.timed()
        metrics["baseline.local1_wall_s"] = single.timed()[0]
        harness.shutdown(spark)
    metrics["proc.peak_rss_mb"] = rss.peak_bytes / 2**20

    source, ok = source_layer(workload, inputs)
    metrics.update(source)
    checks.append(ok)
    fetch, ok = fetch_layer(inputs, seed)
    metrics.update(fetch)
    checks.append(ok)

    attempted = sum(r.count for r in runners) + len(checks)
    failed = sum(r.failed for r in runners) + checks.count(False)
    print(f"traced walls {[round(w, 3) for w in walls]} s, untraced {[round(w, 3) for w in untraced]} s", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_yield")) or name == "fetch.attempts_per_call":
        return "ratio"
    return "count"
