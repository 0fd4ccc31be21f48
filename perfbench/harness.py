"""Sessions, workloads and timed passes for the npm pipeline benchmark.

A pass runs the flagship exactly as it ships, from its inputs to the
complete result collected in this process, and is then compared with the
plain-Python oracle in ``gen``. Nothing here edits or wraps product code:
the session is pinned through ``get_spark``'s own arguments and the
process environment.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")
PACKAGE = "akkastreamprocessnpmpackagedependencies_spark"

SETUPS = 2  # setup_s is the median of this many set-ups in one run
WARM_MIN, WARM_MAX, WARM_STEADY = 2, 6, 0.20  # warm-up passes per set-up, relative change


@dataclass(frozen=True)
class Workload:
    """``kind`` is ``batch`` or ``stream``; ``mode`` is the npmregistry
    source mode of a stream (``fixture`` serves ``docs_path`` rows,
    ``replay`` fetches each listed package through the replay transport);
    ``rate`` is packages admitted per micro-batch."""

    name: str
    kind: str
    n_packages: int
    mode: str = ""
    rate: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        # mode and rate of batch_docs apply to the traced run's stream probe
        Workload("batch_docs", "batch", 3000, mode="fixture", rate=500),
        Workload("stream_replay", "stream", 1000, mode="replay", rate=250),
    )
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Python workers import the product package (they
    unpickle the ``npmregistry`` source by module path)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # every JVM, the spark-submit launcher's too: temp files in WORK, no
    # hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(n_cpus: int, extra: dict[str, str] | None = None):
    """local[n_cpus] with shuffle partitions = n_cpus, no console progress,
    and a JVM heap sized for a small shared host."""
    from akkastreamprocessnpmpackagedependencies_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    conf.update(extra or {})
    spark = get_spark("perfbench", shuffle_partitions=n_cpus, extra_conf=conf, cpus=n_cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_children()


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        kids = _children(todo.pop())
        seen.extend(kids)
        todo.extend(kids)
    return seen


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every descendant process has ended, killing what is
    left after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while kids := descendants(os.getpid()):
        for pid in kids:
            try:
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.1)


class RssSampler:
    """Peak resident set size of this process and all its descendants,
    sampled every 50 ms from /proc."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            return 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.05):
            total = sum(self._rss(p) for p in [me, *descendants(me)])
            self.peak_bytes = max(self.peak_bytes, total)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- passes


class Runner:
    """Runs passes of one workload over one set of generated inputs."""

    def __init__(self, spark, workload: Workload, inputs: gen.Inputs, tag: str) -> None:
        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.tag = tag
        self.count = 0  # passes attempted
        self.failed = 0  # passes that raised or disagreed with the oracle
        self.last_progress: list[dict] = []
        self.last_group = ""

    @property
    def expected(self) -> list[tuple]:
        if self.workload.kind == "batch" or self.workload.mode == "replay":
            return self.inputs.expected_batch
        return self.inputs.expected_docs

    def result(self) -> list[tuple]:
        """One pass; returns the collected rows. Sets ``last_group`` to the
        Spark job group the pass ran under and, for streams,
        ``last_progress`` to the progress of every data batch."""
        self.count += 1
        self.last_progress = []
        name = f"{self.tag}_{self.count}"
        if self.workload.kind == "batch":
            return self._batch(name)
        return self._stream(name)

    def _batch(self, group: str) -> list[tuple]:
        from akkastreamprocessnpmpackagedependencies_spark.operators import npm

        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            packages = npm.load_package_list(self.spark, self.inputs.packages_path)
            docs = self.spark.read.parquet(self.inputs.docs_path)
            rows = [tuple(r) for r in npm.dependency_counts(packages, docs).collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.last_group = group
        return rows

    def _source(self):
        from akkastreamprocessnpmpackagedependencies_spark.sources.registry import register
        from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

        w = self.workload
        if w.mode == "fixture":
            return sp.read_registry_stream(self.spark, rate=w.rate, docs_path=self.inputs.docs_path)
        register(self.spark)
        return (
            self.spark.readStream.format("npmregistry")
            .option("rate", w.rate)
            .option("mode", "replay")
            .option("packages_path", self.inputs.packages_path)
            .option("transcript_path", self.inputs.transcript_path)
            .option("rate_per_sec", "0")
            .load()
        )

    def _stream(self, name: str) -> list[tuple]:
        from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

        checkpoint = os.path.join(WORK, "checkpoints", name)
        query = sp.run_to_memory(
            sp.streaming_dependency_counts(self._source()), name, "complete", checkpoint=checkpoint
        )
        try:
            query.processAllAvailable()
            rows = sorted(tuple(r) for r in self.spark.table(name).collect())
            self.last_progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
            self.last_group = str(query.runId)
        finally:
            query.stop()
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(checkpoint, ignore_errors=True)
        return rows

    def timed(self) -> tuple[float, bool]:
        """(seconds to the collected result, matches the oracle). A pass
        that raises counts as incorrect; its traceback goes to stderr."""
        t0 = time.perf_counter()
        try:
            rows = self.result()
        except Exception:
            traceback.print_exc()
            rows = None
        elapsed = time.perf_counter() - t0
        ok = rows == self.expected
        self.failed += not ok
        return elapsed, ok


def warm_up(runner: Runner, times: list[float]) -> None:
    """Run untimed (but verified) passes, appending their wall times to
    ``times``, the warm-up history of this process. Runs WARM_MIN passes,
    then more until the last comes within WARM_STEADY of the fastest pass
    before it (at most WARM_MAX here). The first pass in a new session is
    slow even in a warm JVM, so a fixed minimum keeps set-ups alike."""
    for n in range(1, WARM_MAX + 1):
        t = runner.timed()[0]
        best = min(times, default=None)
        times.append(t)
        if n >= WARM_MIN and best is not None and abs(t - best) <= WARM_STEADY * best:
            return


@dataclass
class Setup:
    spark: object
    runner: Runner  # the measured one
    runners: list[Runner]  # every runner, for pass and failure counts
    seconds: list[float]  # wall time of each set-up
    session_s: list[float]
    warmup_s: list[float]

    @property
    def attempted(self) -> int:
        return sum(r.count for r in self.runners)

    @property
    def failed(self) -> int:
        return sum(r.failed for r in self.runners)


def set_up(workload: Workload, seed: int, n_cpus: int) -> Setup:
    """Set up SETUPS times: generate and write the inputs, (re)start the
    session, warm up until steady. The first set-up also launches the JVM.
    The last set-up's session and inputs are the ones measured."""
    spark = None
    runners: list[Runner] = []
    warm_times: list[float] = []
    seconds, session_s, warmup_s = [], [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        inputs = gen.write(gen.generate(seed, workload.n_packages), os.path.join(WORK, "inputs", str(k)))
        t1 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(n_cpus)
        t2 = time.perf_counter()
        runners.append(Runner(spark, workload, inputs, f"p{k}"))
        warm_up(runners[-1], warm_times)
        t3 = time.perf_counter()
        seconds.append(t3 - t0)
        session_s.append(t2 - t1)
        warmup_s.append(t3 - t2)
    print(f"warm-up passes {[round(t, 2) for t in warm_times]} s", file=sys.stderr)
    return Setup(spark, runners[-1], runners, seconds, session_s, warmup_s)


def measure(runner: Runner, seconds: float, each=None) -> list[float]:
    """Wall times of timed passes for ``seconds``: a pass starts only while
    the median pass so far still fits in the remaining time (the first
    always runs). ``each``, if given, is called with the wall time after
    every pass."""
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() + statistics.median(walls) <= deadline:
        walls.append(runner.timed()[0])
        if each is not None:
            each(walls[-1])
    return walls


def clean_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
