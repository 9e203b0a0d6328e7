"""The benchmark's workloads, run against the public API of
``watertower_spark`` and its HTTP server.

``query``  — read path.  Build a fresh corpus and open the engine; one
             client in a closed loop calls ``SearchEngine.search`` over a
             class-cycled stream of mostly first-seen terms, the same
             queries go out as one ``msearch`` batch, and a hot set of
             phrases is served over HTTP in an open loop at a fixed rate.
``ingest`` — write path.  Dedup a corpus with injected near-duplicates,
             build it, append a batch, let a fresh engine answer a
             checking lookup, then serve key lookups over HTTP in an open
             loop at a fixed rate on the new layout.

Every operation's output is checked; a failed check counts as a failed
operation.  Timed regions hold only the calls into the program.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict

import numpy as np

import corpus as C
import env
import loadgen
from reference import Reference, check_rows, close_enough
from tracing import Tracer

T0 = time.perf_counter()

# corpus sizes (both workloads)
N_DOCS = 4000
VOCAB = 20_000
BODY_WORDS = (30, 150)
DUP_FRACTION = 0.02
DEDUP_THRESHOLD = 0.5

# query workload
MIN_QUERIES = 14            # two per query class
STREAM_LEN = 42             # six per class; the loop stops on time
MSEARCH_WIDTH = 6           # one query of each non-key class per batch
HOT_PHRASES = 8
HTTP_RATE = 1.0             # requests/s, a third of saturation (about 3/s)
READY_REPEATS = 3           # engine opens timed for setup_s

# ingest workload
APPEND_DOCS = 100
INGEST_HTTP_RATE = 4.0         # key lookups take ~0.2 s; 4 threads


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def dir_bytes(path: str) -> tuple:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


class Run:
    """State shared by one benchmark process: session, tracer, tallies."""

    def __init__(self, traced: bool, work: str):
        self.traced = traced
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.ops: dict = defaultdict(list)
        self.service_s: list = []
        self.values: dict = {}
        t0 = time.perf_counter()
        self.spark = env.start_spark()
        self.spark_start_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, traced)
        self.log(f"spark started in {self.spark_start_s:.1f} s")

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - T0:7.1f} s  {msg}",
              file=sys.stderr, flush=True)

    def check(self, what: str, problem) -> bool:
        self.attempted += 1
        if problem:
            self.failed += 1
            print(f"check failed: {what}: {problem}", file=sys.stderr)
            return False
        return True

    def close(self) -> None:
        self.tracer.close()
        if self.traced:
            self.tracer.write(os.path.join(os.path.dirname(self.work),
                                           f"trace-{os.getpid()}.json"))
        env.stop_spark(self.spark)


# ----------------------------------------------------------------- inputs

def frames(spark, path: str):
    from pyspark.sql import functions as F

    raw = spark.read.parquet(path)
    docs = raw.select("url", "warc_ts", "html", "text", "lang")
    tags = raw.select("url", F.array("tag").alias("tags"))
    return raw, docs, tags


def text_bytes(corpus: C.Corpus) -> int:
    return sum(len(t.encode()) for t in corpus.texts())


def spec_args(spec: dict) -> dict:
    return {k: spec[k] for k in ("word", "tags", "mode", "k", "operator")}


# ------------------------------------------------------------- operations

def run_dedup(run: Run, corpus: C.Corpus, raw) -> None:
    from pyspark.sql import functions as F

    from watertower_spark.operators.dedup import minhash_lsh_pairs

    tokens = raw.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
        F.posexplode(F.split("text", r"\s+")).alias("pos", "term"))
    tr = run.tracer
    with tr.op("dedup") as op:
        with tr.phase(op, "construct"):
            df = minhash_lsh_pairs(tokens, threshold=DEDUP_THRESHOLD)
        with tr.phase(op, "exec"):
            pairs = [(int(r["da"]), int(r["db"]), float(r["jaccard"]))
                     for r in df.collect()]
    run.ops["dedup"].append(op)
    shingles: dict = {}

    def sh(i: int) -> set:
        if i not in shingles:
            t = np.concatenate([corpus.titles[i], corpus.bodies[i]]).tolist()
            shingles[i] = {tuple(t[j:j + 3]) for j in range(len(t) - 2)}
        return shingles[i]

    found = set()
    for a, b, jac in pairs:
        sa, sb = sh(a), sh(b)
        true = len(sa & sb) / len(sa | sb)
        # the operator reports jaccard rounded to 4 decimals
        ok = abs(jac - true) <= 0.5e-4 + 1e-12 and true >= DEDUP_THRESHOLD and a != b
        run.check(f"dedup pair {a},{b}",
                  None if ok else f"jaccard {jac} vs recomputed {true}")
        found.add((min(a, b), max(a, b)))
    injected = set(corpus.dup_pairs)
    run.check("dedup found injected pairs",
              None if found & injected else "no injected pair found")
    op.metrics["pairs"] = len(pairs)
    op.metrics["recall"] = len(found & injected) / max(1, len(injected))
    run.values["dedup_docs_per_s"] = len(corpus) / op.wall_s
    run.log(f"dedup {op.wall_s:.1f} s, {len(pairs)} pairs")


def run_build(run: Run, docs, tags, idx: str, n_docs: int) -> None:
    from watertower_spark.operators.index_build import build_index

    tr = run.tracer
    with tr.op("build") as op:
        manifest = build_index(docs, tags, idx, default_lang="en")
    run.ops["build"].append(op)
    run.check("build doc_count", None if manifest["doc_count"] == n_docs
              else f"{manifest['doc_count']} != {n_docs}")
    for phase, sec in (manifest.get("phase_seconds") or {}).items():
        op.metrics[f"{phase}_s"] = sec
    run.values["build_docs_per_s"] = n_docs / op.wall_s
    run.log(f"build {op.wall_s:.1f} s")


def search_op(run: Run, eng, spec: dict, ref=None, name: str = "search"):
    """One library search (construct + collect), checked against ``ref``
    (a reference result) outside the timed region."""
    tr = run.tracer
    with tr.op(name, cls=spec["cls"]) as op:
        with tr.phase(op, "construct"):
            df = eng.search(spec["word"], spec["tags"], mode=spec["mode"],
                            k=spec["k"], operator=spec["operator"])
        with tr.phase(op, "exec"):
            rows = df.collect()
    run.ops[name].append(op)
    got = [(r["url"], float(r["score"])) for r in rows]
    if ref is not None:
        run.check(f"{name} {spec['word']!r}",
                  check_rows(got, ref, spec["mode"], spec["k"]))
    return op, rows


def run_msearch(run: Run, eng, specs: list, refs: list):
    """One ``msearch`` batch, each query checked against its reference;
    returns the op and each query's ``[(url, score), ...]``."""
    tr = run.tracer
    with tr.op("msearch") as op:
        with tr.phase(op, "construct"):
            df = eng.msearch([spec_args(s) for s in specs])
        with tr.phase(op, "exec"):
            rows = df.collect()
    run.ops["msearch"].append(op)
    per_q = [[] for _ in specs]
    for r in rows:
        per_q[int(r["qid"])].append((r["url"], float(r["score"])))
    for spec, got, ref in zip(specs, per_q, refs):
        run.check(f"msearch {spec['word']!r}",
                  check_rows(got, ref, spec["mode"], spec["k"]))
    return op, per_q


def open_engine(run: Run, idx: str, spec: dict, ref=None):
    """Fresh SearchEngine plus its first (checked) query; returns the
    engine and the open-to-answer time."""
    from watertower_spark.operators.search import SearchEngine

    with run.tracer.op("reload") as op:
        eng = SearchEngine(run.spark, idx)
    run.ops["reload"].append(op)
    q, rows = search_op(run, eng, spec, ref, name="first_query")
    return eng, rows, q.t1 - op.t0


def phrase_spec(phrase: str) -> dict:
    return {"cls": "phrase", "word": phrase, "tags": None, "mode": "bm25",
            "k": 10, "operator": "and"}


def key_spec(url: str) -> dict:
    return {"cls": "key", "word": "unique_key:" + url, "tags": None,
            "mode": "parity", "k": None, "operator": "and"}


def serve(run: Run, eng):
    from watertower_spark.server import make_server

    proxy = loadgen.TimedEngine(eng, run.service_s, run.traced)
    server = make_server({"bench": proxy}, fair_pools=True)
    th = threading.Thread(target=server.serve_forever, daemon=True)
    th.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    return server, th, base


def stop_server(server, th) -> None:
    server.shutdown()
    server.server_close()
    th.join(timeout=30)


def record_http(run: Run, samples: list, check) -> list:
    """Count and check every response; returns the latencies (s)."""
    for s in samples:
        problem = s.error or check(s)
        run.check(f"http {s.key}", problem)
    run.values.setdefault("http_samples", []).extend(samples)
    return [s.latency_s for s in samples]


def hits_of(body) -> list:
    return [(h["_source"]["unique_key"], float(h["_score"]))
            for h in (body or {}).get("hits", {}).get("hits", [])]


def same_hits(got: list, want: list):
    if len(got) != len(want):
        return f"{len(got)} hits, library gave {len(want)}"
    for (u1, s1), (u2, s2) in zip(got, want):
        if u1 != u2 or not close_enough(s1, s2):
            return f"hit {u1}:{s1} vs library {u2}:{s2}"
    return None


# -------------------------------------------------------------- workloads

def setup_corpus(seed: int, work: str):
    corpus = C.make_corpus(seed, N_DOCS, vocab_size=VOCAB,
                           body_words=BODY_WORDS, dup_fraction=DUP_FRACTION)
    path = C.write_parquet(corpus, os.path.join(work, "docs.parquet"))
    return corpus, path, Reference(path)


def query_workload(seed: int, seconds: int, traced: bool, work: str) -> "Run":
    corpus, path, ref = setup_corpus(seed, work)
    stream = C.query_stream(corpus, seed, len(C.QUERY_CLASSES) + STREAM_LEN)
    refs = [ref.search(**spec_args(s)) for s in stream]
    # the first query of each class compiles that plan shape: run one of
    # each (other terms) before timing
    warm, stream = stream[:len(C.QUERY_CLASSES)], stream[len(C.QUERY_CLASSES):]
    warm_refs, refs = refs[:len(C.QUERY_CLASSES)], refs[len(C.QUERY_CLASSES):]
    rng = np.random.default_rng([seed, 5])
    ready_specs = [key_spec(u) for u in
                   rng.choice(corpus.urls, size=READY_REPEATS, replace=False)]
    ready_refs = [ref.search(**spec_args(s)) for s in ready_specs]
    hot = [phrase_spec(p) for p in C.hot_phrases(corpus, seed, HOT_PHRASES)]
    hot_refs = [ref.search(**spec_args(s)) for s in hot]
    ref.close()

    run = Run(traced, work)
    _, docs, tags = frames(run.spark, path)
    idx = os.path.join(work, "index")
    run_build(run, docs, tags, idx, len(corpus))
    run.values["index_bytes_per_input_byte"] = dir_bytes(idx)[0] / text_bytes(corpus)

    ready = []
    for spec, r in zip(ready_specs, ready_refs):
        eng, _, dt = open_engine(run, idx, spec, r)
        ready.append(dt)
    run.values["ready_s"] = ready
    run.log(f"engine ready {ready}")

    for spec, r in zip(warm, warm_refs):
        search_op(run, eng, spec, r, name="warmup")

    # closed loop: one client, library search
    budget = 0.35 * seconds
    t_end = time.perf_counter() + budget
    n = 0
    while n < len(stream) and (n < MIN_QUERIES or time.perf_counter() < t_end):
        search_op(run, eng, stream[n], refs[n])
        n += 1
    lat = [o.wall_s for o in run.ops["search"]]
    run.log(f"{n} queries: " + " ".join(
        f"{o.cls}={o.wall_s:.2f}" for o in run.ops["search"]))
    run.values["op_p50_s"] = pct(lat, 50)
    run.values["op_p90_s"] = pct(lat, 90)

    # the same queries as one msearch batch of a fixed width (one
    # query of each non-key class)
    ids = [i for i in range(n) if stream[i]["cls"] != "key"][:MSEARCH_WIDTH]
    op, _ = run_msearch(run, eng, [stream[i] for i in ids], [refs[i] for i in ids])
    run.values["msearch_qps"] = len(ids) / op.wall_s
    run.log(f"msearch {len(ids)} queries in {op.wall_s:.1f} s")

    # HTTP: hot phrases in an open loop at a fixed rate.  Every response
    # must match the reference; those for the first phrase must also
    # equal the library's own answer, fetched first.
    _, rows = search_op(run, eng, hot[0], hot_refs[0], name="hot_library")
    library = [(r["url"], float(r["score"])) for r in rows]

    def check_http(s):
        got = hits_of(s.body)
        return (same_hits(got, library) if s.key == 0 else None) \
            or check_rows(got, hot_refs[s.key], "bm25", 10)

    def request(h):
        body = {"query": {"bool": {"must": {"match_phrase": {
            "content": {"query": hot[h]["word"]}}}}}, "size": 10}
        return h, ("POST", "/indexes/bench/_search?mode=bm25", body)

    server, th, base = serve(run, eng)
    try:
        n_req = int(round(HTTP_RATE * 0.55 * seconds))
        samples = loadgen.open_loop(base, [request(j % len(hot)) for j in range(n_req)],
                                    HTTP_RATE, env.host_cpus())
    finally:
        stop_server(server, th)
    lat = record_http(run, samples, check_http)
    run.values["http_p50_s"] = pct(lat, 50)
    run.values["http_p90_s"] = pct(lat, 90)
    run.log(f"http {HTTP_RATE}/s: {len(samples)} requests, "
            f"p50 {pct(lat, 50):.2f} s, p90 {pct(lat, 90):.2f} s")
    return run


def ingest_workload(seed: int, seconds: int, traced: bool, work: str) -> "Run":
    from watertower_spark.operators.maintenance import append_documents

    corpus, path, ref = setup_corpus(seed, work)
    rng = np.random.default_rng([seed, 5])
    first = key_spec(corpus.urls[int(rng.integers(len(corpus)))])
    first_ref = ref.search(**spec_args(first))
    ref.close()
    new = C.extra_docs(corpus, seed, APPEND_DOCS, "a", BODY_WORDS)
    new_path = C.write_parquet(new, os.path.join(work, "append.parquet"))
    live = {u: corpus.text(i) for i, u in enumerate(corpus.urls)}
    live.update((u, new.text(i)) for i, u in enumerate(new.urls))

    run = Run(traced, work)
    spark = run.spark
    raw, docs, tags = frames(spark, path)
    run_dedup(run, corpus, raw)
    idx = os.path.join(work, "index")
    run_build(run, docs, tags, idx, len(corpus))
    _, _, dt = open_engine(run, idx, first, first_ref)
    ready = [dt]

    _, new_docs, new_tags = frames(spark, new_path)
    before = dir_bytes(idx)
    with run.tracer.op("append") as op:
        append_documents(spark, idx, new_docs, new_tags)
    run.ops["mutation"].append(op)
    after = dir_bytes(idx)
    op.metrics["bytes_written"] = after[0] - before[0]
    op.metrics["files_written"] = after[1] - before[1]
    # refresh: a fresh engine answers the checking query
    probe = new.urls[-1]
    eng, rows, dt = open_engine(run, idx, key_spec(probe))
    refresh = time.perf_counter() - op.t0
    ready.append(dt)
    run.log(f"append {op.wall_s:.1f} s, refresh {refresh:.1f} s")
    run.check("append doc_count",
              None if eng.manifest["doc_count"] == len(live)
              else f"{eng.manifest['doc_count']} != {len(live)}")
    run.check(f"append lookup of {probe}",
              None if [r["text"] for r in rows] == [live[probe]]
              else f"{len(rows)} rows")

    # key lookups over HTTP on the mutated index (appended and original
    # urls), in an open loop at a fixed rate
    lookups = new.urls[:10] + rng.choice(corpus.urls, size=10, replace=False).tolist()
    n_req = int(round(INGEST_HTTP_RATE * 0.2 * seconds))
    reqs = [(u, ("GET", "/indexes/bench/_search?q=unique_key:" + u, None))
            for u in (lookups[j % len(lookups)] for j in range(n_req))]
    server, th, base = serve(run, eng)
    try:
        samples = loadgen.open_loop(base, reqs, INGEST_HTTP_RATE, env.host_cpus())
    finally:
        stop_server(server, th)

    def lookup_ok(s):
        hits = (s.body or {}).get("hits", {}).get("hits", [])
        got = [h["_source"]["title"] + "\n\n" + h["_source"]["content"]
               for h in hits if h["_source"]["unique_key"] == s.key]
        return None if got == [live[s.key]] and len(hits) == 1 \
            else "wrong lookup result"

    lat = record_http(run, samples, lookup_ok)
    run.values["http_p50_s"] = pct(lat, 50)
    run.values["http_p90_s"] = pct(lat, 90)
    # one mutation per run: its refresh latency is the operation latency
    run.values["op_p50_s"] = run.values["op_p90_s"] = refresh
    run.values["refresh_s"] = [refresh]
    run.values["ready_s"] = ready
    run.values["index_bytes_per_input_byte"] = dir_bytes(idx)[0] / sum(
        len(t.encode()) for t in live.values())
    return run


WORKLOADS = {"query": query_workload, "ingest": ingest_workload}
