"""HTTP load generator: one process, threads only, at most ``nproc`` of them.

- ``closed_loop``: each client sends its next request when the previous one
  has completed (callers that wait for their reply). Used for capacity.
- ``open_loop``: requests are due at seeded Poisson arrival times at a fixed
  offered rate, whatever the server does (independent users). A request is
  timed from the moment it was due, so a stall also charges the requests
  queued behind it; how late the generator sent each request is recorded.

A non-200 status, a timeout, a connection error or a body that is not JSON
counts as failed, and its latency is recorded as the timeout: it misses any
latency limit. Bodies are decoded after the phase, outside the timed loop.
"""

from __future__ import annotations

import http.client
import json
import statistics
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

import numpy as np

TIMEOUT_S = 10.0


@dataclass
class Phase:
    name: str
    attempted: int = 0
    failed: int = 0
    latencies_ms: list[float] = field(default_factory=list)
    late_ms: list[float] = field(default_factory=list)
    done_s: list[float] = field(default_factory=list)  # completion offsets
    good: list[bool] = field(default_factory=list)     # set by settle()
    answers: list = field(default_factory=list)   # (query, body)
    elapsed_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    @property
    def ok(self) -> int:
        return self.attempted - self.failed

    def record(self, query: str, ms: float, body, late_ms: float = 0.0,
               done_s: float = 0.0):
        with self._lock:
            self.attempted += 1
            self.latencies_ms.append(ms)
            self.late_ms.append(late_ms)
            self.done_s.append(done_s)
            self.answers.append((query, body))

    def settle(self, keep: int) -> None:
        """Decode the raw bodies; count failures; keep ``keep`` answers,
        evenly spaced, for the correctness check."""
        decoded = []
        for i, (query, raw) in enumerate(self.answers):
            try:
                body = json.loads(raw) if raw is not None else None
            except ValueError:
                body = None
            self.good.append(body is not None)
            if body is None:
                self.failed += 1
                self.latencies_ms[i] = TIMEOUT_S * 1000.0
            else:
                decoded.append((query, body))
        step = max(1, len(decoded) // keep) if keep else 0
        self.answers = decoded[::step][:keep] if keep else []


def search(port: int, query: str, k: int = 10) -> bytes | None:
    """GET /search; the raw body of a 200 response, or None on any
    failure."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", "/search?" + urlencode({"query": query, "k": k}))
        resp = conn.getresponse()
        data = resp.read()
        return data if resp.status == 200 else None
    except (OSError, http.client.HTTPException):
        return None
    finally:
        conn.close()


class QueryFeed:
    """Thread-safe hand-out of the query log, in order."""

    def __init__(self, queries: list[str]):
        self._queries = queries
        self._next = 0
        self._lock = threading.Lock()

    def take(self) -> str | None:
        with self._lock:
            if self._next >= len(self._queries):
                return None
            self._next += 1
            return self._queries[self._next - 1]


def closed_loop(name: str, port: int, feed: QueryFeed, clients: int,
                seconds: float) -> Phase:
    phase = Phase(name)
    t0 = time.perf_counter()
    stop = t0 + seconds

    def client():
        while time.perf_counter() < stop:
            q = feed.take()
            if q is None:
                return
            t = time.perf_counter()
            body = search(port, q)
            done = time.perf_counter()
            phase.record(q, (done - t) * 1000.0, body, done_s=done - t0)

    _run_threads(client, clients)
    phase.elapsed_s = time.perf_counter() - t0
    return phase


def open_loop(name: str, port: int, feed: QueryFeed, rate: float,
              seconds: float, seed: int, workers: int) -> Phase:
    rng = np.random.default_rng(seed + 101)
    gaps = rng.exponential(1.0 / rate, size=int(rate * seconds * 2) + 16)
    due = np.cumsum(gaps)
    due = due[due < seconds].tolist()
    phase = Phase(name)
    nxt = iter(range(len(due)))
    lock = threading.Lock()
    t0 = time.perf_counter()

    def worker():
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            q = feed.take()
            if q is None:
                return
            at = t0 + due[i]
            wait = at - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            body = search(port, q)
            done = time.perf_counter()
            phase.record(q, (done - at) * 1000.0, body,
                         late_ms=max(0.0, sent - at) * 1000.0,
                         done_s=done - t0)

    _run_threads(worker, workers)
    phase.elapsed_s = time.perf_counter() - t0
    return phase


def _run_threads(fn, n: int) -> None:
    threads = [threading.Thread(target=fn, daemon=True) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(TIMEOUT_S * 20)
        if t.is_alive():
            raise RuntimeError("load generator thread did not finish")


def per_second_rate(done_s: list[float], ok: list[bool],
                    seconds: float) -> float:
    """Median over the whole seconds of a phase of the ok completions in
    each: a stall or burst in one second moves it little."""
    counts = [0] * int(seconds)
    for t, good in zip(done_s, ok):
        if good and int(t) < len(counts):
            counts[int(t)] += 1
    return statistics.median(counts)


def windowed_tail(values: list[float], window: int = 200,
                  beyond: int = 10) -> tuple[float, float, int]:
    """(percentile, value, windows): the values, in completion order, are
    cut into windows of at least ``window`` samples; the result is the
    median over windows of each window's tail percentile."""
    k = max(1, len(values) // window)
    size = len(values) // k
    tails = [tail_percentile(values[i * size:(i + 1) * size], beyond)
             for i in range(k)]
    return (statistics.median(p for p, _ in tails),
            statistics.median(v for _, v in tails), k)


def tail_percentile(values: list[float], beyond: int = 10
                    ) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ``beyond``
    samples above it. Needs more than ``beyond`` samples."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot support a tail percentile")
    s = sorted(values)
    idx = n - beyond - 1          # ``beyond`` samples lie above this one
    return 100.0 * (idx + 1) / n, s[idx]


def main(spec_path: str) -> None:
    """Run the serving phases a JSON spec asks for, in this order, and
    print one JSON list with each phase's counts, latencies, lateness and
    answers. A phase whose length is 0 is skipped.

    - ``prefetch``: the given queries, one client (cache fill);
    - ``warm_s``: closed loop over the log, ``clients`` clients (warm-up);
    - ``capacity_s``: closed loop over the log, ``clients`` clients;
    - ``seconds``: open loop over the log at ``rate`` requests/s."""
    with open(spec_path) as f:
        spec = json.load(f)
    port, clients = spec["port"], spec["clients"]
    feed = QueryFeed(spec["log"])
    phases = []
    if spec["prefetch"]:
        phases.append(closed_loop("serve.prefetch", port,
                                  QueryFeed(spec["prefetch"]), 1,
                                  float("inf")))
    if spec["warm_s"]:
        phases.append(closed_loop("serve.warmup", port, feed, clients,
                                  spec["warm_s"]))
    if spec["capacity_s"]:
        phases.append(closed_loop("serve.capacity", port, feed, clients,
                                  spec["capacity_s"]))
    if spec["seconds"]:
        phases.append(open_loop("serve.latency", port, feed, spec["rate"],
                                spec["seconds"], spec["seed"], clients))
    for p in phases:
        p.settle(spec["keep_answers"])
    print(json.dumps([
        {"name": p.name, "attempted": p.attempted, "failed": p.failed,
         "elapsed_s": p.elapsed_s, "latencies_ms": p.latencies_ms,
         "late_ms": p.late_ms, "done_s": p.done_s, "good": p.good,
         "answers": p.answers}
        for p in phases]))


if __name__ == "__main__":
    import sys
    main(sys.argv[1])
