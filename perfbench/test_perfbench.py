"""Self-tests of the benchmark (not of the program):

    python -m pytest perfbench/test_perfbench.py -q

- the generator is deterministic for a seed;
- the duckdb reference agrees with the engine on a tiny corpus;
- every metric named in BENCHMARK.json is printed, with its unit;
- the entry point refuses to run where the program is absent.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import corpus as C  # noqa: E402
import run as entry  # noqa: E402
from reference import Reference, check_rows  # noqa: E402
from tracing import parse_sql_metric  # noqa: E402


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_for_a_seed():
    a = C.make_corpus(3, 300, vocab_size=2000, dup_fraction=0.05)
    b = C.make_corpus(3, 300, vocab_size=2000, dup_fraction=0.05)
    c = C.make_corpus(4, 300, vocab_size=2000, dup_fraction=0.05)
    assert a.texts() == b.texts() and a.tags == b.tags
    assert a.dup_pairs == b.dup_pairs and len(a.dup_pairs) == 15
    assert a.texts() != c.texts()
    assert C.query_stream(a, 3, 21) == C.query_stream(b, 3, 21)
    assert C.hot_phrases(a, 3, 3) == C.hot_phrases(b, 3, 3)
    extra_a = C.extra_docs(a, 3, 10, "a")
    assert extra_a.texts() == C.extra_docs(b, 3, 10, "a").texts()


def test_query_stream_covers_every_class_and_finds_rows():
    corpus = C.make_corpus(5, 400, vocab_size=3000)
    stream = C.query_stream(corpus, 5, 14)
    assert [s["cls"] for s in stream[:7]] == list(C.QUERY_CLASSES)
    df = corpus.doc_freq()
    index = {w: i for i, w in enumerate(corpus.vocab)}
    tail = [s for s in stream if s["cls"] == "tail"]
    assert all(1 <= df[index[s["word"]]] <= 3 for s in tail)


def test_vocabulary_is_stem_invariant():
    from watertower_spark.analyzers import porter2

    rng = __import__("numpy").random.default_rng(0)
    assert all(porter2.stem(w) == w for w in C.vocabulary(5000, rng))


def test_every_metric_is_printed_with_its_unit(tmp_path):
    """end_to_end()/per_layer() over a synthetic run name exactly the
    metrics BENCHMARK.json declares."""
    spec = _bench_spec()
    from tracing import Op

    tracer = types.SimpleNamespace(overhead_s=0.1, new_span_id=lambda: 1)

    def op(name, wall, **metrics):
        o = Op(tracer, name, name)
        o.t1 = o.t0 + wall
        o.metrics.update(metrics)
        return o

    search = op("search", 0.5, construct_ms=100.0, exec_ms=390.0)
    search.cls = "head"
    run = types.SimpleNamespace(
        values={"op_p50_s": 0.5, "op_p90_s": 0.6, "http_p50_s": 0.4,
                "http_p90_s": 0.5, "build_docs_per_s": 200.0,
                "index_bytes_per_input_byte": 1.0, "ready_s": [1.0, 1.1],
                "peak_rss_mb": 3000.0},
        spark_start_s=5.0, service_s=[0.3],
        ops={"search": [search], "build": [op("build", 10.0)],
             "reload": [op("reload", 1.0)], "first_query": [],
             "mutation": [], "dedup": []},
        tracer=tracer)
    e2e = entry.end_to_end(run)
    layers = entry.per_layer(run)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    units = entry.units()
    assert all(units[k] for k in list(e2e) + list(layers))
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}


def test_benchmark_json_shape():
    spec = _bench_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_parse_sql_metric():
    assert parse_sql_metric("12 ms") == 12.0
    assert parse_sql_metric("total (min, med, max)\n1.5 s (0.1 s, 0.5 s, 0.9 s)") == 1500.0
    assert parse_sql_metric("total (min, med, max)\n2.0 KiB (1 B, 1 B, 1 B)") == 2048.0
    assert parse_sql_metric("1,024") == 1024.0


def test_refuses_to_run_without_the_program(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import env

    env.prepare_workdir(str(tmp_path_factory.mktemp("perfbench")))
    session = env.start_spark()
    yield session
    env.stop_spark(session)


def test_reference_agrees_with_engine_on_tiny_corpus(spark, tmp_path):
    from watertower_spark.operators.index_build import build_index
    from watertower_spark.operators.search import SearchEngine
    from workloads import frames, spec_args

    corpus = C.make_corpus(9, 300, vocab_size=1500, body_words=(20, 60))
    path = C.write_parquet(corpus, str(tmp_path / "docs.parquet"))
    _, docs, tags = frames(spark, path)
    build_index(docs, tags, str(tmp_path / "idx"), default_lang="en")
    eng = SearchEngine(spark, str(tmp_path / "idx"))
    ref = Reference(path)
    try:
        for spec in C.query_stream(corpus, 9, 14):
            rows = eng.search(spec["word"], spec["tags"], mode=spec["mode"],
                              k=spec["k"], operator=spec["operator"]).collect()
            got = [(r["url"], float(r["score"])) for r in rows]
            want = ref.search(**spec_args(spec))
            assert check_rows(got, want, spec["mode"], spec["k"]) is None, spec
            if spec["cls"] != "key":
                assert want[1] > 0, spec  # every class finds something
        # a wrong score is caught
        spec = C.query_stream(corpus, 9, 1)[0]
        want = ref.search(**spec_args(spec))
        bad = [(u, s + 1e-3) for u, s in want[0][:spec["k"]]]
        assert check_rows(bad, want, spec["mode"], spec["k"]) is not None
    finally:
        ref.close()
