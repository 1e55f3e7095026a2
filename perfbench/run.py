"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build|query --seed N --seconds S --trace 0|1

Run it from the root of a checkout; it uses the `solr_spark` package found
there and writes only under `.perfbench/` in that root. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`: with `--trace 0` every end-to-end metric, with
`--trace 1` every per-layer metric (and a trace file under
`.perfbench/traces/`). Units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def epoch_probe() -> dict:
    """Host fingerprint recorded with every run (metadata, not a metric):
    bench.py's single-thread cache-resident md5 loop and its streaming
    write+sum, over 50 MB instead of 200 MB to keep it short."""
    import numpy as np

    t0 = time.perf_counter()
    h = b"x" * 1000
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    cpu_s = time.perf_counter() - t0
    a = np.zeros(50_000_000, dtype=np.uint8)
    t0 = time.perf_counter()
    a[:] = 1
    a.sum()
    return {"cpu_md5_sec": round(cpu_s, 3),
            "membw_gbs": round(0.1 / (time.perf_counter() - t0), 2)}


def host() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # a quarter of physical memory, at most 8 GiB: the host is shared
    driver_gb = max(1, min(8, ram // 4 // 2**30))
    return {"cores": cores, "ram_gb": round(ram / 2**30, 1),
            "driver_memory": f"{driver_gb}g"}


def make_spark(work: str, hw: dict, event_dir: str | None):
    from pyspark.sql import SparkSession

    cores = hw["cores"]
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("sparkgrep-perfbench")
         .config("spark.driver.memory", hw["driver_memory"])
         .config("spark.driver.extraJavaOptions",
                 f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # one partition per core: at these sizes a task costs more in
         # scheduling than in work, and two per core ran about 15% slower
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its standard input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "solr_spark", "__init__.py"))
            and os.path.isfile(spec_path)):
        print(f"needs the solr_spark package and BENCHMARK.json under {ROOT}; "
              "run it from the root of a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    hw = host()
    meta = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, **hw,
            "epoch_probe": epoch_probe()}
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    spark = make_spark(work, hw, event_dir)
    tracer = T.Tracer(spark.sparkContext if args.trace else None)
    run = Run(spark, tracer, work, args.seed, args.seconds, hw["cores"])
    run.meta["phase_s"] = {"spark_start": round(time.perf_counter() - t0, 2)}
    try:
        if args.trace:
            T.install(tracer)
        e2e = WORKLOADS[args.workload](run)
    finally:
        tracer.unpatch()
        with run.phase("stop"):
            stop_spark(spark)
    meta.update(run.meta, attempted=run.attempted, failed=run.failed,
                failed_ops_ratio=run.failed / max(run.attempted, 1))

    metrics = e2e
    if args.trace:
        t = T.finish(tracer, event_dir)
        metrics = T.layer_metrics(t, run.layer_inputs)
        metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s
        T.write_trace(os.path.join(base, "traces",
                                   f"{args.workload}-seed{args.seed}.json"),
                      t, {"meta": meta, "end_to_end_traced": e2e,
                          "per_layer": metrics})
    shutil.rmtree(work, ignore_errors=True)

    if set(metrics) != set(units):
        raise KeyError(f"metrics differ from BENCHMARK.json {kind}: "
                       f"{sorted(set(metrics) ^ set(units))}")
    print("# meta " + json.dumps(meta))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
