"""Batch HTTP enrichment: the reference's blocking per-element fetch
(reference: src/main/scala/NpmPackage.scala:7-22) as an Arrow-batched
``mapInPandas`` operator with per-partition session reuse, bounded
retry/backoff, a token-bucket rate cap, and null-on-failure (the engine's
PERMISSIVE error model replaces the reference's silent drop — failures stay
visible as status_code rows instead of vanishing).

Three modes:
- ``fixture`` (default): resolve documents from a local mapping — correctness
  never depends on registry availability;
- ``live``: GET https://registry.npmjs.org/<name> through the retry engine;
- ``live`` with an injected ``transport``: the SAME retry/backoff/token-bucket
  code driven by a canned transcript (``ReplayTransport``) — how the live
  path executes in CI with no network.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

RESULT_SCHEMA = "name string, status_code int, doc string"


class TransportError(Exception):
    """Connection-level failure (no HTTP status): DNS, refused, timeout."""


class ThrottledFetcher:
    """The retry engine shared by every transport: token-bucket admission at
    ``rate_per_sec`` (the reference's 1-per-3s politeness throttle,
    Main.scala:32), exponential backoff (2^attempt seconds) on 5xx and
    connection errors, up to ``max_retries`` retries, terminal failures
    normalized to status_code 0. ``transport(name)`` returns
    (status_code, text) or raises TransportError. ``sleep``/``clock`` are
    injectable so tests can verify the timing behavior with a fake clock."""

    def __init__(
        self,
        transport,
        *,
        rate_per_sec: float = 0.33,
        max_retries: int = 3,
        sleep=time.sleep,
        clock=time.monotonic,
    ) -> None:
        self.transport = transport
        self.min_interval = 1.0 / rate_per_sec if rate_per_sec > 0 else 0.0
        self.max_retries = max_retries
        self.sleep = sleep
        self.clock = clock
        self._last = float("-inf")

    def _admit(self) -> None:
        wait = self._last + self.min_interval - self.clock()
        if wait > 0:
            self.sleep(wait)
        self._last = self.clock()

    def __call__(self, name: str) -> tuple[int, str | None]:
        for attempt in range(self.max_retries + 1):
            self._admit()
            try:
                code, text = self.transport(name)
            except TransportError:
                if attempt == self.max_retries:
                    return (0, None)
                self.sleep(2**attempt)
                continue
            # 5xx and 429 are transient: back off and retry. 429 especially
            # — a rate-limited registry telling a politeness-throttled
            # client to slow down must produce a later retry, not a
            # recorded terminal failure (the reference drops the package
            # on ANY non-200: NpmPackage.scala:9).
            if (code >= 500 or code == 429) and attempt < self.max_retries:
                self.sleep(2**attempt)
                continue
            return (code, text if code == 200 else None)
        return (0, None)


def requests_transport():  # pragma: no cover - no network in the test env
    """Real-network transport: one requests.Session per partition, requests
    exceptions normalized to TransportError."""
    try:
        import requests
    except ImportError as e:
        raise NotImplementedError("live mode needs the 'requests' package") from e
    session = requests.Session()

    def get(name: str) -> tuple[int, str]:
        try:
            r = session.get(f"https://registry.npmjs.org/{name}", timeout=30)
        except requests.RequestException as e:
            raise TransportError(str(e)) from e
        return (r.status_code, r.text)

    return get


class ReplayTransport:
    """Canned HTTP transcript: ``transcript[name]`` is the ordered list of
    outcomes successive requests for that name observe — ``"error"`` (raise
    TransportError), a bare int status, or ``[status, body]``. The last
    outcome repeats once the list is exhausted; unknown names 404. Picklable,
    so it rides into mapInPandas workers — the record/replay harness that
    lets the live-path code run hermetically."""

    def __init__(self, transcript: dict[str, list]) -> None:
        self.transcript = {k: list(v) for k, v in transcript.items()}

    def __call__(self, name: str) -> tuple[int, str]:
        outcomes = self.transcript.get(name)
        if not outcomes:
            return (404, "")
        step = outcomes.pop(0) if len(outcomes) > 1 else outcomes[0]
        if step == "error":
            raise TransportError(f"replayed connection error for {name}")
        if isinstance(step, int):
            return (step, "")
        code, body = step
        return (int(code), body)


def http_enrich(
    packages: DataFrame,
    *,
    mode: str = "fixture",
    docs: dict[str, tuple[int, str]] | None = None,
    rate_per_sec: float = 0.33,
    max_retries: int = 3,
    transport=None,
) -> DataFrame:
    """packages(name) -> (name, status_code, doc).

    mode='fixture': look up ``docs`` (falls back to the committed fixture
    set). mode='live': run names through ThrottledFetcher over ``transport``
    (default: real network via requests) with one transport instance per
    partition — exponential backoff on 5xx/connection errors and a token
    bucket at ``rate_per_sec`` (element-granular, unlike the micro-batch
    cap in the streaming source). Any other ``mode`` raises ValueError.

    pandas is imported here, not at module level: the streaming registry
    source imports this module for its fetcher in every Python process
    Spark starts for the source, and pandas alone takes 0.2-0.5 s to
    import on a 4-vCPU host."""
    import pandas as pd

    if mode not in ("fixture", "live"):
        raise ValueError(f"http_enrich mode must be 'fixture' or 'live', got {mode!r}")
    if mode == "fixture" and docs is None:
        from .fixtures import registry_docs

        docs = {name: (code, doc) for name, code, doc in registry_docs()}

    def fixture_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resolved = pdf["name"].map(lambda n: docs.get(n))
            yield pd.DataFrame(
                {
                    "name": pdf["name"],
                    "status_code": resolved.map(lambda r: r[0] if r else 404).astype("int32"),
                    "doc": resolved.map(lambda r: r[1] if r else None),
                }
            )

    def live_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetcher = ThrottledFetcher(
            transport if transport is not None else requests_transport(),
            rate_per_sec=rate_per_sec,
            max_retries=max_retries,
        )
        for pdf in batches:
            results = pdf["name"].map(fetcher)
            yield pd.DataFrame(
                {
                    "name": pdf["name"],
                    "status_code": results.map(lambda t: t[0]).astype("int32"),
                    "doc": results.map(lambda t: t[1]),
                }
            )

    fn = fixture_fn if mode == "fixture" else live_fn
    return packages.select("name").mapInPandas(fn, schema=RESULT_SCHEMA)
