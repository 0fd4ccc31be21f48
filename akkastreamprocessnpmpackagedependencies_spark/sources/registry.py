"""Custom Python DataSource ``npmregistry``: the reference's rate-limited
HTTP ingestion (reference: src/main/scala/Main.scala:32 ``throttle(1,
3.second)``; src/main/scala/NpmPackage.scala:7-22 fetch) rebuilt as a
first-class Spark source with offset-based replay.

Design:
- **Offsets are indices into the sorted package list** — every micro-batch
  is a replayable slice, so a failed fetch is retried by the engine instead
  of silently dropping the package (the reference loses data on any non-200:
  NpmPackage.scala:9).
- **Rate limiting happens in offset planning**: one ``read()`` call admits
  at most ``rate`` packages, the Spark analogue of the per-element throttle
  (micro-batch granularity — documented difference, SURVEY.md §2.4 F3).
- **Hermetic by default**: docs come from the frozen fixture parquet
  (``docs_path``). ``mode=live`` fetches https://registry.npmjs.org/<name>
  through fetch.ThrottledFetcher (retry/backoff/token bucket); ``mode=replay``
  runs the SAME fetcher over a canned JSON transcript (``transcript_path``)
  so the live path executes in CI with no network.
- Batch reader partitions the package list evenly — at scale each executor
  fetches its slice with its own connection, no driver bottleneck.

Emitted schema matches the fixture docs table: name, status_code, doc.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCHEMA = "name string, status_code int, doc string"


def _int_option(options: dict, key: str, default: int, minimum: int) -> int:
    """``options[key]`` (or ``default``) as an integer of at least
    ``minimum``. Anything else raises ValueError when the reader is built:
    ``rate=0`` would never emit a row, ``rate=-3`` walks its offsets
    backwards past the end, and ``numpartitions=0`` reads nothing."""
    raw = options.get(key, default)
    try:
        value = int(str(raw).strip())
    except ValueError:
        value = None
    if value is None or value < minimum:
        raise ValueError(f"npmregistry option {key} must be an integer >= {minimum}, got {raw!r}")
    return value


def _rate_per_sec(options: dict) -> float:
    """The fetch budget in requests per second; 0 means unthrottled.
    A negative, infinite or non-numeric value raises ValueError."""
    raw = options.get("rate_per_sec", 0.33)
    try:
        value = float(str(raw).strip())
    except ValueError:
        value = math.nan
    if not (math.isfinite(value) and value >= 0):
        raise ValueError(f"npmregistry option rate_per_sec must be a finite number >= 0, got {raw!r}")
    return value


def _package_names(options: dict) -> list[str] | None:
    """The package universe from ``packages_path`` (plain or .gz), in file
    order; None when no list is configured (fixture mode)."""
    packages_path = options.get("packages_path")
    if not packages_path:
        return None
    import gzip

    opener = gzip.open if packages_path.endswith(".gz") else open
    with opener(packages_path, "rt") as f:
        return [ln.strip() for ln in f if ln.strip()]


def _load_docs(
    options: dict, names_override: list[str] | None = None, **fetch
) -> list[tuple[str, int, str]]:
    """Resolve the (name, status, doc) universe once per reader.

    Runs on executors inside reader methods — only stdlib + pyarrow, no
    SparkSession access (data sources must be self-contained).
    ``names_override`` restricts a fetch-mode call to a subset of the
    package list — the batch reader passes each partition's own slice so
    N partitions fetch the list ONCE between them, not N times. ``fetch``
    (``rate_per_sec``, ``max_retries``, already validated by the reader)
    goes to the ThrottledFetcher in fetch modes."""
    mode = (options.get("mode") or "fixture").lower()
    names = names_override if names_override is not None else _package_names(options)
    if mode in ("live", "replay"):
        # Both run the SAME ThrottledFetcher engine (retry/backoff/token
        # bucket); only the transport differs. ``replay`` reads a JSON
        # transcript {name: [outcome, ...]} from ``transcript_path`` so the
        # live-path code executes with no network (record/replay harness).
        from ..fetch import ReplayTransport, ThrottledFetcher, requests_transport

        assert names is not None, f"{mode} mode requires packages_path"
        if mode == "replay":
            import json

            with open(options["transcript_path"]) as f:
                transport = ReplayTransport(json.load(f))
        else:  # pragma: no cover - no network in the test env
            transport = requests_transport()
        fetcher = ThrottledFetcher(transport, **fetch)
        out = []
        for n in names:
            code, text = fetcher(n)
            out.append((n, code, text))
        return out
    docs_path = options.get("docs_path")
    if docs_path:
        import pyarrow.parquet as pq

        t = pq.read_table(docs_path)
        rows = list(zip(*(t.column(c).to_pylist() for c in ("name", "status_code", "doc"))))
    else:
        from ..fixtures import registry_docs

        rows = registry_docs()
    if names is not None:
        wanted = set(names)
        rows = [r for r in rows if r[0] in wanted]
    return sorted(rows)  # deterministic offset order


class NpmRegistryBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.options = options
        self.n_parts = _int_option(options, "numpartitions", 4, 1)
        self.rate_per_sec = _rate_per_sec(options)
        self.max_retries = _int_option(options, "max_retries", 3, 0)

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(i) for i in range(self.n_parts)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        mode = (self.options.get("mode") or "fixture").lower()
        if mode in ("live", "replay"):
            # fetch ONLY this partition's stride of the package list —
            # each executor fetches its slice exactly once (review fix:
            # the old per-partition _load_docs fetched the whole list N
            # times and discarded (N-1)/N of it). ``rate_per_sec`` is the
            # AGGREGATE politeness budget against the registry: the N
            # concurrent partitions split it evenly, so the fleet-wide
            # request rate equals the configured rate (review fix: each
            # partition previously spent the full budget -> N x the
            # intended rate against the remote service).
            names = _package_names(self.options)
            assert names is not None, f"{mode} mode requires packages_path"
            yield from _load_docs(
                self.options,
                names_override=names[partition.value :: self.n_parts],
                rate_per_sec=self.rate_per_sec / self.n_parts,
                max_retries=self.max_retries,
            )
            return
        # fixture/parquet mode: a local columnar read per task, strided
        # rows [partition.value::n_parts]
        rows = _load_docs(self.options)
        yield from rows[partition.value :: self.n_parts]


class NpmRegistryStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"index": n} into the sorted package universe. read()
    admits at most ``rate`` rows per micro-batch; readBetweenOffsets
    replays any committed slice exactly (checkpoint recovery).

    Fetch-mode laziness (review fix): in live/replay mode only the NAME
    LIST is materialized up front; each micro-batch fetches just its
    [lo, hi) slice of the sorted universe. The old code resolved every
    document in the first ``read()`` — at a polite rate that meant the
    first micro-batch blocked for the whole universe (~50 min for 1000
    names at 1/3 s) before emitting ``rate`` rows, and a checkpoint
    replay re-fetched everything to serve one slice. Fixture mode keeps
    the cheap cached local read. Live-mode replay determinism is the
    registry's to give (a re-fetch may observe new data); ``replay``
    mode serves canned transcripts and replays exactly."""

    def __init__(self, options: dict) -> None:
        self.options = options
        self.rate = _int_option(options, "rate", 5, 1)
        self.rate_per_sec = _rate_per_sec(options)
        self.max_retries = _int_option(options, "max_retries", 3, 0)
        self._rows: list[tuple] | None = None
        self._names: list[str] | None = None

    def _fetch_mode(self) -> bool:
        return (self.options.get("mode") or "fixture").lower() in ("live", "replay")

    def _universe_names(self) -> list[str]:
        if self._names is None:
            names = _package_names(self.options)
            assert names is not None, "live/replay mode requires packages_path"
            # sorted: slice order must equal the sorted-row order
            # _load_docs emits, so offsets index one stable universe
            self._names = sorted(names)
        return self._names

    def _universe(self) -> list[tuple]:
        if self._rows is None:
            self._rows = _load_docs(self.options)
        return self._rows

    def _size(self) -> int:
        return len(self._universe_names()) if self._fetch_mode() else len(self._universe())

    def _slice(self, lo: int, hi: int) -> list[tuple]:
        if self._fetch_mode():
            return _load_docs(
                self.options,
                names_override=self._universe_names()[lo:hi],
                rate_per_sec=self.rate_per_sec,
                max_retries=self.max_retries,
            )
        return self._universe()[lo:hi]

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["index"]
        hi = min(lo + self.rate, self._size())
        return iter(self._slice(lo, hi)), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._slice(start["index"], end["index"]))


class NpmRegistryDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "npmregistry"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> NpmRegistryBatchReader:
        return NpmRegistryBatchReader(self.options)

    def simpleStreamReader(self, schema) -> NpmRegistryStreamReader:
        return NpmRegistryStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(NpmRegistryDataSource)
