"""Instruments for the traced run, all applied from outside the program.

- spans (name, start, end, parent) kept in memory, written out at the end;
- a py4j ``send_command`` counter (driver -> JVM round trips, per thread);
- ``CodegenMetrics`` compile-count and compile-time deltas;
- one Spark job group per operation, read back through ``statusTracker()``
  and the local status REST API (stage, task and SQL metrics);
- timing wrappers around ``analyzers.analyze_query`` and the server's
  ``search_response``.

``Tracer(enabled=False)`` keeps only the cheap per-operation wall clock
the end-to-end metrics need; nothing is patched and no job group is set.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """First value of a SQL metric string (``"12 ms"``, ``"total (min,
    med, max)\\n1.5 KiB (...)"``) in ms for times, bytes for sizes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    return num * _TIME.get(unit, 1.0)


class Op:
    """One traced operation: a root span plus its counters."""

    def __init__(self, tracer: "Tracer", name: str, group: str):
        self.tracer = tracer
        self.name = name
        self.group = group
        self.span_id = tracer.new_span_id()
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.metrics: dict = {}

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    def add(self, key: str, value: float) -> None:
        self.metrics[key] = self.metrics.get(key, 0.0) + value


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._local = threading.local()
        self._patched: list = []
        self._n_group = 0
        self.overhead_s = 0.0
        if enabled:
            sc = spark.sparkContext
            self._ui = sc.uiWebUrl
            self._app = sc.applicationId
            self._codegen = (spark._jvm.org.apache.spark.metrics.source
                             .CodegenMetrics.METRIC_COMPILATION_TIME())
            self._install()

    # ------------------------------------------------------------ spans
    def new_span_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def record(self, name: str, start: float, end: float, parent=None,
               sid=None, **attrs) -> None:
        sid = sid or self.new_span_id()
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ------------------------------------------------------- patching
    def _install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        import watertower_spark.analyzers as analyzers
        import watertower_spark.server as server

        local = self._local

        def counting(orig):
            def send_command(conn, *a, **kw):
                local.py4j = getattr(local, "py4j", 0) + 1
                return orig(conn, *a, **kw)
            return send_command

        for cls in (py4j.clientserver.ClientServerConnection,
                    py4j.java_gateway.GatewayConnection):
            self._patch(cls, "send_command", counting(cls.send_command))

        def timed(orig, key):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    op = getattr(local, "op", None)
                    if op is not None:
                        op.add(key, dt * 1e3)
                    self.record(key, t0, t0 + dt,
                                getattr(op, "span_id", None))
            return wrapper

        self._patch(analyzers, "analyze_query",
                    timed(analyzers.analyze_query, "analyzers.query_ms"))
        self._patch(server, "search_response",
                    timed(server.search_response, "response_ms"))

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def py4j_count(self) -> int:
        return getattr(self._local, "py4j", 0)

    # ----------------------------------------------------- operations
    @contextmanager
    def op(self, name: str, **attrs):
        """Wrap one benchmark operation.  Untraced: wall clock only.
        Traced: own job group, codegen and py4j deltas, then the Spark
        metrics of every job the group ran (read after the op ends).
        ``attrs`` become attributes of the op and of its span."""
        with self._lock:
            self._n_group += 1
            group = f"perfbench-{name}-{self._n_group}"
        o = Op(self, name, group)
        o.__dict__.update(attrs)
        if not self.enabled:
            o.t0 = time.perf_counter()
            try:
                yield o
            finally:
                o.t1 = time.perf_counter()
            return
        sc = self.spark.sparkContext
        t_in = time.perf_counter()
        sc.setJobGroup(group, name)
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        cg0 = self._codegen_totals()
        self._local.op = o
        o.t0 = time.perf_counter()
        self.overhead_s += o.t0 - t_in
        try:
            yield o
        finally:
            o.t1 = time.perf_counter()
            self._local.op = None
            cg1 = self._codegen_totals()
            o.add("compiles", cg1[0] - cg0[0])
            o.add("compile_ms", cg1[1] - cg0[1])
            o.metrics.update(self.group_metrics(group, ungrouped))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.record(name, o.t0, o.t1, None, sid=o.span_id, group=group,
                        metrics=dict(o.metrics), **attrs)
            self.overhead_s += time.perf_counter() - o.t1

    @contextmanager
    def phase(self, op: Op, key: str):
        """Time a part of ``op`` as ``<key>_ms`` with its py4j calls."""
        n0 = self.py4j_count()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            op.add(f"{key}_ms", (t1 - t0) * 1e3)
            if self.enabled:
                op.add("py4j_calls", self.py4j_count() - n0)
                self.record(key, t0, t1, op.span_id)

    def _codegen_totals(self) -> tuple:
        h = self._codegen
        n = h.getCount()
        return n, h.getSnapshot().getMean() * n

    # ---------------------------------------------- Spark status read-back
    def _rest(self, path: str):
        url = f"{self._ui}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    def group_metrics(self, group: str, ungrouped: set) -> dict:
        """Metrics of the jobs in ``group`` plus the ungrouped jobs that
        appeared during the op (the library runs some jobs on its own
        driver threads, which do not inherit the job group)."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        job_ids = sorted(set(st.getJobIdsForGroup(group))
                         | (set(st.getJobIdsForGroup(None)) - ungrouped))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_ms": 0.0,
               "sched_delay_ms": 0.0, "scan_bytes": 0.0, "shuffle_bytes": 0.0,
               "bytes_written": 0.0, "python_ms": 0.0,
               "python_bytes_sent": 0.0}
        if not job_ids:
            return out
        stage_ids: set = set()
        deadline = time.time() + 5
        for j in job_ids:
            info = st.getJobInfo(j)
            while info is not None and info.status == "RUNNING" \
                    and time.time() < deadline:
                time.sleep(0.01)
                info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                attempts = self._rest(f"stages/{sid}")
            except OSError:
                continue
            if any(a.get("status") == "ACTIVE" for a in attempts) \
                    and time.time() < deadline:
                time.sleep(0.05)  # status store lags the job end
                attempts = self._rest(f"stages/{sid}")
            for a in attempts:
                if a.get("status") in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                out["tasks"] += a.get("numCompleteTasks", 0)
                out["task_ms"] += a.get("executorRunTime", 0)
                out["scan_bytes"] += a.get("inputBytes", 0)
                out["shuffle_bytes"] += a.get("shuffleWriteBytes", 0)
                out["bytes_written"] += a.get("outputBytes", 0)
                try:
                    tasks = self._rest(
                        f"stages/{sid}/{a['attemptId']}/taskList?length=100000")
                except OSError:
                    tasks = []
                out["sched_delay_ms"] += sum(t.get("schedulerDelay", 0)
                                             for t in tasks)
        jobs = set(job_ids)
        try:
            execs = self._rest("sql?details=true&planDescription=false"
                               "&offset=0&length=1000")
        except OSError:
            execs = []
        for e in execs:
            ids = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
            if not ids & jobs:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "time to run Python workers":
                        out["python_ms"] += parse_sql_metric(m.get("value", ""))
                    elif m.get("name") == "data sent to Python workers":
                        out["python_bytes_sent"] += parse_sql_metric(m.get("value", ""))
        return out
