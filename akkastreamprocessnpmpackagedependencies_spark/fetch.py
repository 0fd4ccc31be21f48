"""The registry fetch engine behind the ``npmregistry`` source's live and
replay modes: the reference's blocking per-element fetch (reference:
src/main/scala/NpmPackage.scala:7-22) with bounded retry/backoff, a
token-bucket rate cap and failures kept as status-code rows (the
reference drops a package on any non-200; here a failure stays visible
as status_code 0 or the last status).

Transports: ``requests_transport`` GETs https://registry.npmjs.org/<name>;
``ReplayTransport`` serves a canned transcript, so the same retry,
backoff and token-bucket code runs with no network.

The module imports no pandas: the streaming source imports it in every
Python process Spark starts for the source.
"""

from __future__ import annotations

import time


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
    """Real-network transport: one requests.Session per call (the readers
    call it once per partition or stream slice), requests exceptions
    normalized to TransportError."""
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
    outcome repeats once the list is exhausted; unknown names 404. The
    record/replay harness that lets the live-path code run hermetically."""

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
