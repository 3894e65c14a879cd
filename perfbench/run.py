"""Benchmark command for lucene_spark.

    python3 perfbench/run.py --workload query --seed 7 --seconds 15 --trace 0

Run from the root of a checkout.  Builds the corpus and query log from
``--seed``, runs one workload for ``--seconds`` against a local Spark
session with one thread per core, checks every timed result against the
exhaustive oracle, and prints each metric by name, unit and sample count.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``.  A traced run also
writes its spans to ``perfbench/out/``.  Exits non-zero on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build", "query")
SEARCH_SWEEP = 10
BATCH_SWEEP = 2


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _host(spark, cores: int) -> dict:
    import numpy
    import pyspark

    from perfbench import layers

    return {
        "nproc": cores,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "spark.job_floor_s": layers.job_floor_s(spark),
        "spark.ceiling_probe_s": layers.ceiling_probe_s(spark, cores),
    }


def run_workload(spark, workload: str, seed: int, seconds: float, trace: bool,
                 cores: int, work_dir: str) -> dict:
    from perfbench import layers
    from perfbench.summary import describe
    from perfbench.tracing import CallSiteResolver, Tracer
    from perfbench.workloads import BATCH_QUERIES, N_DOCS, Run, median

    tracer = Tracer(spark.sparkContext, CallSiteResolver(os.path.join(ROOT, "lucene_spark")),
                    enabled=trace)
    run = Run(spark, tracer, seed, cores, work_dir)
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    if workload == "build":
        run.setup(with_index=False)
        phase("setup")
        run.warm_up()
        phase("warm_up")
        run.loop(seconds, [("build", run.build_op)])
        latency = throughput = run.plain.get("build", [])
        items = N_DOCS
    else:
        run.setup(with_index=True)
        phase("setup")
        run.warm_up()
        phase("warm_up")
        # two single queries per batch: the p50 needs the samples more than
        # the batch rate, which is a ratio of sums
        run.loop(seconds, [("search", run.search_one), ("search", run.search_one),
                           ("search_many", run.search_batch)])
        latency, throughput = run.plain.get("search", []), run.plain.get("search_many", [])
        items = BATCH_QUERIES
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    phase("loop")
    host = _host(spark, cores)  # after the loop, when every worker is warm
    phase("host")

    e2e = {
        "setup_s": (median(run.setup_s), len(run.setup_s)),
        "latency_p50_s": (median(latency) if latency else 0.0, len(latency)),
        "throughput_per_s": (items * len(throughput) / sum(throughput) if throughput else 0.0,
                             len(throughput)),
        "driver_peak_rss_mb": (rss_mb, 1),
        "index_bytes_per_text_byte": (run.index_bytes / run.text_bytes, 1),
    }
    layer: dict[str, float] = {}
    if trace:
        if workload == "build":
            run.index = run.build(run.fresh_pages())
            for i in range(SEARCH_SWEEP):
                run.search_one(i)
            for i in range(BATCH_SWEEP):
                run.search_batch(i)
        run.update_mix()
        phase("sweep")
    bad = run.check()
    phase("check")
    if trace:
        tracer.finish()
        rows, dfs = layers.log_posting_rows(run)
        kernel, kernel_bad = layers.kernel_probe(run, rows, dfs)
        bad += kernel_bad
        layer |= layers.analysis_probe(run)
        layer |= layers.codecs_probe(rows)
        layer |= kernel
        layer |= layers.index_metrics(tracer, run.ops["build"], cores, run.posting_rows)
        layer |= layers.search_metrics(tracer, run.ops["search"])
        layer |= layers.search_many_metrics(tracer, run.ops["search_many"], cores)
        layer |= layers.streaming_metrics(tracer, run)
        layer["spark.job_floor_s"] = host["spark.job_floor_s"]
        layer["spark.ceiling_probe_s"] = host["spark.ceiling_probe_s"]
        # the loop ran every call once traced and once untraced
        layer["trace.overhead_frac"] = (sum(map(sum, run.traced.values()))
                                        / sum(map(sum, run.plain.values())) - 1.0)
        phase("layers")
    return {
        "workload": workload, "seed": seed, "host": host, "e2e": e2e, "layer": layer,
        "latency": describe(latency), "setup": describe(run.setup_s),
        "phases": phases, "samples": run.plain | {"setup": run.setup_s},
        "attempted": run.attempted, "failed": run.failed, "mismatches": bad,
        "spans": tracer.to_json() if trace else [],
    }


# what each generic end-to-end metric is called on each workload
ALIASES = {
    "build": {"latency_p50_s": "build_p50_s", "throughput_per_s": "build_docs_per_s"},
    "query": {"latency_p50_s": "query_p50_s", "throughput_per_s": "batch_queries_per_s"},
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print(f"perfbench: no lucene_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from perfbench.workloads import make_session

    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(ROOT, "perfbench", "out")
    work_dir = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # keep temp files of Python, the spark-submit launcher and the JVM inside the checkout
    os.environ["TMPDIR"] = work_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work_dir}"
    t0 = time.time()
    spark = make_session(cores, work_dir)
    try:
        res = run_workload(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                           cores, work_dir)
    finally:
        _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    print("host " + json.dumps(res["host"]))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"wall_s {time.time() - t0:.1f}")
    print(f"latency {json.dumps(res['latency'])} setup {json.dumps(res['setup'])}")
    print("phases_s " + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}))
    for kind, xs in res["samples"].items():
        print(f"samples_s {kind} " + json.dumps([round(x, 4) for x in xs]))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    aliases = ALIASES[args.workload]
    for name, (value, n) in res["e2e"].items():
        alias = f" ({aliases[name]})" if name in aliases else ""
        print(f"metric {name}{alias} = {value:.6g} {units.get(name, '')} n={n}")
    for name, value in sorted(res["layer"].items()):
        print(f"layer {name} = {value:.6g} {units.get(name, '')}")
    error_rate = res["failed"] / max(1, res["attempted"])
    print(f"error_rate = {error_rate:.6g} ({res['failed']} of {res['attempted']})")
    for line in res["mismatches"]:
        print(f"MISMATCH {line}", file=sys.stderr)
    if args.trace:
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({k: v for k, v in res.items() if k != "e2e"} | {"e2e": {
                k: v[0] for k, v in res["e2e"].items()}}, fh, indent=1, default=float)
        print(f"trace written to {os.path.relpath(path, ROOT)}")

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layer"] if args.trace else {k: v[0] for k, v in res["e2e"].items()}
    correct = not res["mismatches"] and res["failed"] == 0

    def number(name):  # a layer with no samples reads 0, so the line stays valid JSON
        v = float(values.get(name, math.nan))
        return v if math.isfinite(v) else 0.0

    # a renamed engine function moves its job_wall_s metric to a key that is
    # not declared, and leaves the declared one at 0: say so
    names = {m["name"] for m in declared}
    missing = [n for n in sorted(names) if not math.isfinite(float(values.get(n, math.nan)))]
    if missing:
        print("perfbench: WARNING no value for " + ", ".join(missing) + "; printed as 0",
              file=sys.stderr)
    extra = sorted(set(values) - names)
    if extra:
        print("perfbench: WARNING measured but not in BENCHMARK.json: " + ", ".join(extra),
              file=sys.stderr)

    print(json.dumps({
        "correct": correct,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": number(m["name"]), "unit": m["unit"]} for m in declared},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
