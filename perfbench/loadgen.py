"""Open-loop HTTP load generator and the timing proxy engine.

Requests are due on a fixed schedule (``rate`` per second) regardless of
how fast earlier ones finished, and are sent from at most ``clients``
threads.  Latency counts from each request's due time, so a stall also
charges the requests queued behind it.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

HTTP_JOB_GROUP = "perfbench-http"


class TimedEngine:
    """Wraps a SearchEngine for ``make_server``: ``search`` runs and
    collects the query, appending the engine's service time to ``sink``,
    and hands the rows back behind the ``collect()`` the server calls.
    ``labelled`` puts the request's Spark jobs in :data:`HTTP_JOB_GROUP`
    (traced runs), so they are not charged to a concurrent operation."""

    def __init__(self, engine, sink: list, labelled: bool = False):
        self._engine = engine
        self._sink = sink
        self._labelled = labelled

    def __getattr__(self, name):
        return getattr(self._engine, name)

    def search(self, *args, **kwargs):
        if self._labelled:
            self._engine.spark.sparkContext.setJobGroup(HTTP_JOB_GROUP, "http")
        t0 = time.perf_counter()
        rows = self._engine.search(*args, **kwargs).collect()
        self._sink.append(time.perf_counter() - t0)
        return _Collected(rows)


class _Collected:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class Sample:
    __slots__ = ("key", "due", "picked", "sent", "done", "error", "body")

    def __init__(self, key, due):
        self.key = key
        self.due = due
        self.picked = self.sent = self.done = 0.0
        self.error = ""
        self.body = None

    @property
    def latency_s(self) -> float:
        return self.done - self.due

    @property
    def queue_s(self) -> float:
        """Time the request waited for a free client thread."""
        return max(0.0, self.picked - self.due)

    @property
    def late_s(self) -> float:
        """How late the generator sent it once a thread was free."""
        return self.sent - max(self.picked, self.due)


def http_call(base: str, req: tuple, timeout: float = 60.0):
    """``req`` = (method, path, body or None) -> (status, parsed JSON)."""
    method, path, body = req
    data = None if body is None else json.dumps(body).encode()
    r = urllib.request.Request(base + path, data=data, method=method,
                               headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(r, timeout=timeout) as resp:
            return resp.status, json.load(resp)
    except urllib.error.HTTPError as e:
        return e.code, None


def open_loop(base: str, requests: list, rate: float, clients: int) -> list:
    """Send ``requests`` (list of (key, (method, path, body))) at ``rate``
    per second from ``clients`` threads; returns one Sample per request."""
    t0 = time.perf_counter() + 0.05
    samples = [Sample(key, t0 + i / rate) for i, (key, _) in enumerate(requests)]
    nxt = [0]
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(samples):
                return
            s = samples[i]
            s.picked = time.perf_counter()
            time.sleep(max(0.0, s.due - s.picked))
            s.sent = time.perf_counter()
            try:
                status, s.body = http_call(base, requests[i][1])
                if status != 200:
                    s.error = f"HTTP {status}"
            except OSError as exc:
                s.error = repr(exc)
            s.done = time.perf_counter()

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples
