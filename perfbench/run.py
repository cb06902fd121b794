"""Benchmark of scout's product paths: the HTTP geocoder (``serve``) and
the offline paths (``bulk``): PBF build, batch geocode, and the
LLM-data pipeline's registry entries.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 35 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is a separate run that records spans and Spark job-group
metrics and reports the per-layer metrics. Every metric is printed on
its own line with its unit; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. The full
result, with the environment it was taken in, goes to
``.perfbench_work/results/``. The exit code is 1 when a correctness
check failed, 2 when the program cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.curate import ENTRIES as CURATE_ENTRIES  # noqa: E402
from perfbench.gen import SERVE_MIX  # noqa: E402

# name → unit. Every workload reports every metric of its table.
END_TO_END = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "items_per_s": "1/s",
    "python_rss_mb": "MB",
    "gazetteer_mb": "MB",
}
# memory of the whole run, in every run's details; the traced run
# reports it as per-layer metrics
MEMORY = {
    # peak resident memory of this process, the driver JVM and the
    # Python workers, and of the JVM alone: it follows the collector's
    # heap sizing, which moves with the machine's speed
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
    # the driver JVM's heap and non-heap in use after a full collection
    # at the end of the window
    "mem.jvm_heap_live_mb": "MB",
    "mem.jvm_nonheap_mb": "MB",
}
PER_LAYER = {
    # serve: plans.http_service, plans.openapi, plans.api, plans.geocode,
    # operators.fuzzy / functions.wratio / functions.scoring, Spark
    "http.server_ms.p50": "ms",
    "http.wait_ms.p50": "ms",
    "openapi.validate_ms.p50": "ms",
    "geocode.resolve_ms.p50": "ms",
    "geocode.resolve_jobs_per_req": "count",
    "geocode.scan_ms.p50": "ms",
    "geocode.candidates_per_req": "count",
    "geocode.capped_share": "ratio",
    "geocode.rows_scanned_per_req": "count",
    "fuzzy.score_ms.p50": "ms",
    "fuzzy.candidates_per_s": "1/s",
    "fuzzy.hits_per_candidate": "ratio",
    "api.collect_ms.p50": "ms",
    "api.serialize_ms.p50": "ms",
    "spark.jobs_per_req": "count",
    "spark.stages_per_req": "count",
    "spark.tasks_per_req": "count",
    "spark.executor_run_ms_per_req": "ms",
    "spark.executor_cpu_ms_per_req": "ms",
    "spark.gc_ms_per_req": "ms",
    "spark.unattributed_ms_per_req": "ms",
    # serve: latency of each query class on its own (gen.SERVE_MIX)
    **{f"serve.{k}_ms.p50": "ms" for k in SERVE_MIX},
    # bulk, build phase: sources.osmpbf, etl.gazetteer, sources.writers
    "osmpbf.index_ms": "ms",
    "osmpbf.blobs": "count",
    "osmpbf.decode_ms": "ms",
    "osmpbf.entities_per_s": "1/s",
    "osmpbf.features_ms": "ms",
    "osmpbf.decode_passes": "count",
    "gazetteer.pois_ms": "ms",
    "gazetteer.admin_ms": "ms",
    "writers.write_ms": "ms",
    "writers.rows_written": "count",
    "writers.bytes_written": "bytes",
    "writers.files_written": "count",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.executor_cpu_s": "s",
    "build.shuffle_write_mb": "MB",
    # bulk, geocode phase: plans.batch_geocode, operators.inverted_index
    "batch.index_ms": "ms",
    "batch.index_rows": "count",
    "batch.pairs_per_req": "count",
    "batch.hits_per_req": "count",
    "batch.jobs": "count",
    "batch.tasks": "count",
    "batch.shuffle_write_mb": "MB",
    "batch.executor_cpu_s": "s",
    # bulk, curate phase: inventory and each registry entry
    "inventory.load_all_ms": "ms",
    **{
        f"curate.{e}.{m}": u
        for e in CURATE_ENTRIES
        for m, u in (("s", "s"), ("plan_ms", "ms"), ("jobs", "count"),
                     ("shuffle_write_mb", "MB"), ("executor_cpu_s", "s"))
    },
    # the traced run's own call median; against call_p50_ms of the
    # untraced run it gives the tracing overhead
    "trace.call_p50_ms": "ms",
    # its 75th percentile: not an end-to-end metric, because over ten
    # seeds its spread reached the largest bound allowed (0.23–0.25)
    "trace.call_p75_ms": "ms",
    **MEMORY,
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "bulk"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "scout_spark")):
        print(f"error: no scout_spark package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import env

    work = os.path.join(root, env.WORK_DIR)
    traced = bool(args.trace)
    env.prepare(root, work, traced)

    from perfbench import common
    from perfbench.bulk import Bulk
    from perfbench.serve import Serve

    load_start = env.loadavg()
    t0 = time.perf_counter()
    cls = {"serve": Serve, "bulk": Bulk}[args.workload]
    wl = cls(root, work, args.seed, traced)
    input_s = time.perf_counter() - t0

    spark = None
    with env.RssSampler() as rss:
        try:
            if traced:
                wl.instrument()
            # set-up: the SparkSession (a fresh JVM), then the workload's
            # own set-up and warm-up (serve.Serve.setup, bulk.Bulk.setup)
            t0 = time.perf_counter()
            spark = common.start_spark()
            session_s = time.perf_counter() - t0
            wl.setup(spark)
            setup_s = time.perf_counter() - t0
            res = wl.measure(spark, args.seconds)
            res["mem.jvm_heap_live_mb"], res["mem.jvm_nonheap_mb"] = env.jvm_live_mb(spark)
            layers = wl.layers(spark) if traced else {}
            environment = env.record(spark)
        finally:
            wl.close()
            if spark is not None:
                common.stop_spark(spark)
            if traced:
                wl.tracer.restore()
            wl.cleanup()
    res["setup_s"] = setup_s
    res["python_rss_mb"] = rss.peak_mb["python"]
    res["mem.peak_rss_mb"] = rss.peak_mb["total"]
    res["mem.jvm_peak_rss_mb"] = rss.peak_mb["java"]

    table = PER_LAYER if traced else END_TO_END
    values = {**layers.get("metrics", {}), **{k: res[k] for k in MEMORY}} if traced else res
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in table.items()}
    correct = res["failed"] == 0
    environment.update({"load_start": load_start, "load_end": env.loadavg()})
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": environment,
        "input_s": input_s,
        "session_s": session_s,
        "details": {k: v for k, v in res.items() if k not in END_TO_END},
        "layers": layers,
        "correct": correct,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(work, "results", f"{stem}.json"), "w") as f:
        json.dump(result, f, indent=1)
    if traced:
        wl.tracer.write(os.path.join(work, "results", f"{stem}.spans.jsonl"))

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, v in environment.items():
        print(f"# env {k} = {v}")
    print(f"# input generation {input_s:.3f} s; SparkSession {session_s:.3f} s;"
          f" workload set-up {setup_s - session_s:.3f} s")
    for k, v in res.items():
        if k == "class_p50_ms":
            for name, ms in v.items():
                print(f"# {name} {ms:.6g} ms")
        elif k not in END_TO_END and k != "requests":
            print(f"# {k} = {v}")
    for k, ms in layers.get("self_ms_per_req", {}).items():
        print(f"# self_ms_per_req {k} = {ms:.3f} ms")
    untraced = os.path.join(work, "results", f"{args.workload}-s{args.seed}-t0.json")
    if traced and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]["call_p50_ms"]["value"]
        print(f"# tracing overhead = {metrics['trace.call_p50_ms']['value'] / base - 1:+.3f}"
              f" (traced call p50 over the untraced run's, same seed)")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
