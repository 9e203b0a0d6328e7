"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository.  Prints progress and
check failures on stderr and, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.  Exits non-zero without a result when the program is not
there or a workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


def end_to_end(run) -> dict:
    v = run.values
    return {
        "op_p50_s": v["op_p50_s"],
        "op_p90_s": v["op_p90_s"],
        "http_p50_s": v["http_p50_s"],
        "http_p90_s": v["http_p90_s"],
        "build_docs_per_s": v["build_docs_per_s"],
        "index_bytes_per_input_byte": v["index_bytes_per_input_byte"],
        "setup_s": run.spark_start_s + med(v["ready_s"]),
    }


def per_layer(run) -> dict:
    from corpus import QUERY_CLASSES

    ops = run.ops
    searches = [o for name in ("search", "first_query") for o in ops[name]]

    def m(op_list, key, agg=med):
        return agg(o.metrics.get(key, 0.0) for o in op_list)

    out = {"analyzers.query_ms": m(searches, "analyzers.query_ms")}
    for key in ("construct_ms", "exec_ms", "py4j_calls", "jobs", "stages",
                "tasks", "compile_ms", "compiles", "python_ms",
                "python_bytes_sent", "scan_bytes", "shuffle_bytes",
                "task_ms", "sched_delay_ms"):
        out[f"search.{key}"] = m(searches, key)
    for cls in QUERY_CLASSES:
        out[f"search.{cls}_p50_s"] = med(o.wall_s for o in searches
                                         if getattr(o, "cls", None) == cls)
    out["search.msearch_qps"] = run.values.get("msearch_qps", 0.0)
    out["search.reload_s"] = med(o.wall_s for o in ops["reload"])
    out["search.first_query_s"] = med(o.wall_s for o in ops["first_query"])
    covered = [(o.metrics.get("construct_ms", 0) + o.metrics.get("exec_ms", 0))
               / (o.wall_s * 1e3) for o in searches]
    out["search.covered_min"] = min(covered) if covered else 0.0

    samples = run.values.get("http_samples", [])
    service_ms = mean(run.service_s) * 1e3
    out["server.service_ms"] = service_ms
    out["server.overhead_ms"] = mean((s.done - s.sent) for s in samples) * 1e3 - service_ms
    out["server.queue_ms"] = mean(s.queue_s for s in samples) * 1e3
    out["generator.late_ms"] = mean(s.late_s for s in samples) * 1e3

    build = ops["build"]
    for key in ("assign_ids_s", "doc_tables_s", "postings_tags_s"):
        out[f"index_build.{key}"] = m(build, key)
    for key in ("python_ms", "task_ms", "shuffle_bytes", "bytes_written"):
        out[f"index_build.{key}"] = m(build, key)

    mut = ops["mutation"]
    out["maintenance.append_s"] = med(o.wall_s for o in mut)
    out["maintenance.jobs"] = m(mut, "jobs", sum)
    out["maintenance.bytes_written"] = m(mut, "bytes_written", sum)
    out["maintenance.files_written"] = m(mut, "files_written", sum)
    out["maintenance.refresh_s"] = med(run.values.get("refresh_s", []))

    dedup = ops["dedup"]
    out["dedup.docs_per_s"] = run.values.get("dedup_docs_per_s", 0.0)
    out["dedup.construct_s"] = m(dedup, "construct_ms") / 1e3
    out["dedup.exec_s"] = m(dedup, "exec_ms") / 1e3
    for key in ("compile_ms", "task_ms", "shuffle_bytes", "pairs", "recall"):
        out[f"dedup.{key}"] = m(dedup, key)

    out["process.peak_rss_mb"] = run.values["peak_rss_mb"]
    out["trace.overhead_s"] = run.tracer.overhead_s
    out["trace.op_p50_s"] = run.values["op_p50_s"]
    return out


def units() -> dict:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "watertower_spark")):
        print("perfbench: run from a checkout root holding watertower_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import env
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    unit = units()
    work = env.prepare_workdir(root)
    run = None
    try:
        t0 = time.perf_counter()
        run = WORKLOADS[args.workload](args.seed, args.seconds,
                                       bool(args.trace), work)
        run.values["peak_rss_mb"] = env.peak_rss_mb()
        metrics = per_layer(run) if args.trace else end_to_end(run)
        print(f"perfbench: {args.workload} seed {args.seed} done in "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        if run is not None:
            run.close()
        env.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
