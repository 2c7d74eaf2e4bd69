"""Benchmark of record for the medallion pipeline and its query serving.

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run starts a Spark session on
``local[<cores>]``, sets up the workload's seeded inputs, runs its closed loop
for ``--seconds``, checks the outputs, and prints two JSON lines: a report
(host key, calibration, fixture sizes, the workload's named metrics) and, last,
the result. With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run. Everything the
run writes stays under ``perfbench/.work`` (removed at exit) and
``perfbench/out`` (results and spans). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORK_ROOT = os.path.join(HERE, ".work")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_mean_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}



def _units(prefix: str, metrics: str) -> dict[str, str]:
    def unit(m: str) -> str:
        if m == "s" or m.endswith("_s"):
            return "s"
        if m in ("core_util", "input_growth"):
            return "ratio"
        return "bytes" if "bytes" in m else "count"

    return {f"{prefix}.{m}": unit(m) for m in metrics.split()}


PER_LAYER = {
    **_units("jsonl", "s"),
    **_units("bronze", "s jobs input_bytes input_growth"),
    **_units("silver", "s jobs shuffle_bytes spill_bytes core_util"),
    **_units("dims", "s jobs spill_bytes"),
    **_units("gold", "s jobs shuffle_bytes"),
    **_units("writers", "bytes_written files_written"),
    **_units("runner", "other_s"),
    **_units("jvm", "gc_s"),
    **_units("analytics", "plan_s exec_s jobs tasks input_bytes core_util"),
    **{k: v for m in oracle.CATALOG_MODULES for k, v in _units(m, "build_s exec_s jobs shuffle_bytes core_util").items()},
    **_units("spark", "failed_tasks"),
}


def host_key(spark) -> dict:
    import duckdb
    import pyspark

    cpu = next((line.split(":", 1)[1].strip() for line in open("/proc/cpuinfo")
                if line.startswith("model name")), platform.processor())
    ram_kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": cpu,
        "ram_gb": round(ram_kb / 2**20, 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }


def calibrate(spark, path: str, reps: int = 3) -> float:
    """Median time of a fixed task -- scan a constant 500k-row parquet table and
    hash-aggregate it -- so a slow or busy host shows beside the metrics."""
    import pyspark.sql.functions as F

    if not os.path.exists(path):
        spark.range(0, 500_000, numPartitions=4).selectExpr(
            "id % 4096 AS k", "id * 7 % 1000 AS v").write.parquet(path)
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        (spark.read.parquet(path).groupBy("k").agg(F.sum("v"), F.count("*"))
         .write.format("noop").mode("overwrite").save())
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def instrument(tracer) -> None:
    """Spans around the calls into each medallion layer, and writer counters."""
    from reciping_data_pipeline_spark.pipeline import bronze, dims, gold, silver
    from reciping_data_pipeline_spark.sources import jsonl, writers

    for module, attr, name in (
        (jsonl, "read_interval", "jsonl"),
        (bronze, "ingest_bulk", "bronze"), (bronze, "ingest_interval", "bronze"),
        (silver, "run_batch", "silver"), (silver, "read_silver", "silver"),
        (dims, "build_all", "dims"), (dims, "upsert_dim_user", "dims"),
        (gold, "run_bulk", "gold"), (gold, "run_incremental", "gold"),
    ):
        tracer.wrap(module, attr, name)
    for attr in ("overwrite_partitions", "overwrite_table", "append_table"):
        tracer.count_writes(writers, attr)


def start_session(workload: str, cores: int, work: str):
    from reciping_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        timezone="Asia/Seoul",
        extra_conf={
            # A fixed-size heap (-Xms = -Xmx): with a growable heap the JVM's
            # resident set varied by 20% between runs of the same workload.
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, work: str) -> dict:
    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(args.workload, cores, work)
    session_s = time.perf_counter() - t0
    try:
        calib_path = os.path.join(work, "calibration.parquet")
        calib_start = calibrate(spark, calib_path)
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            instrument(tracer)
        run = workloads.Run(spark, work, args.seed, args.seconds, args.size, cores, tracer)
        t1 = time.perf_counter()
        workloads.WORKLOADS[args.workload](run)
        run.info["checks_s"] = time.perf_counter() - t1 - run.setup_s - run.info["loop_s"]
        calib_end = calibrate(spark, calib_path)
        host = host_key(spark)
        layers = None
        if tracer:
            layers = workloads.layer_metrics(run, list(PER_LAYER))
            run.info["trace_coverage"] = workloads.trace_coverage(run)
            tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        stop_session(spark)

    samples = [op["s"] for op in run.ops]
    tail, tail_pct = workloads.tail_s(samples)
    e2e = {
        "setup_s": session_s + run.setup_s,
        "op_p50_s": statistics.median(samples),
        "op_mean_s": statistics.mean(samples),
        "op_tail_s": tail,
        "peak_rss_mb": run.info.pop("peak_rss_mb"),
    }
    every = run.ops + run.checks
    failed = sum(not op["ok"] for op in every)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "size": args.size, "host": host, "loop": "closed, 1 client",
        "calibration_s": {"start": calib_start, "end": calib_end, "end_over_start": calib_end / calib_start},
        "setup_s": {"session": session_s, "workload": run.setup_s},
        "ops": len(samples), "op_tail_pct": tail_pct, "error_rate": failed / len(every),
        "named": run.info.pop("named", {}), **run.info, "failures": run.failures[:5],
    }
    return {"e2e": e2e, "layers": layers, "report": report,
            "attempted": len(every), "failed": failed}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["bulk_backfill", "incremental_replay", "query_serving"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="fixture size; tiny is for the benchmark's own tests")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # Spark's shuffle and block scratch; the variable wins over spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        res = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    values = res["layers"] if args.trace else res["e2e"]
    report = res["report"]
    prior = os.path.join(OUT, f"result-{args.workload}-{args.seed}-t0.json")
    if args.trace and os.path.exists(prior):
        with open(prior) as f:
            untraced = json.load(f)["e2e"]
        report["trace_overhead"] = {m: res["e2e"][m] - untraced[m] for m in END_TO_END}
    with open(os.path.join(OUT, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"report": report, "e2e": res["e2e"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": values[m], "unit": u} for m, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
