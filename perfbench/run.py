#!/usr/bin/env python3
"""tokens -> causal-DAG benchmark for logdag_spark.

    python3 perfbench/run.py --workload ingest_corr --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process, one closed loop on
``local[<cores>]``: set up (Spark session, inputs, an untimed
checked warm-up), then run one unit of work after another until
``--seconds`` have passed, checking every output.  The last stdout line is
the result JSON; the line before it records the seed, the host facts and
the raw samples.  ``--trace 1`` adds one traced unit after the timed loop
and reports the per-layer metrics instead (see perfbench/README.md).
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
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_corr", "driver_queries")
DEFAULT_SCALE = 20.0  # gen_tokens scale of the pipeline workloads
DEFAULT_SF = "0.01"  # the driver-query tables: perfbench/data/sf<DEFAULT_SF>
SETUP_REPS = 3  # input set-ups per run; setup_s takes their median
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "seq_per_s": "1/s", "ok_frac": "ratio"}


def host_facts() -> dict:
    """Cores and memory this process may use: affinity and cgroup limits
    applied to the machine's totals."""
    cores = len(os.sched_getaffinity(0))
    try:
        quota, period = open("/sys/fs/cgroup/cpu.max").read().split()
        if quota != "max":
            cores = max(1, min(cores, int(quota) // int(period)))
    except (OSError, ValueError):
        pass
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    try:
        limit = open("/sys/fs/cgroup/memory.max").read().strip()
        if limit != "max":
            mem = min(mem, int(limit))
    except (OSError, ValueError):
        pass
    return {"cores": cores, "mem_gib": round(mem / 2**30, 2)}


def host_probe() -> float:
    """``bench.py``'s single-thread CPU probe, without leaving its BLAS
    thread pins in the environment the Spark workers inherit."""
    keys = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
    saved = {k: os.environ.get(k) for k in keys}
    import bench

    try:
        return bench._host_probe()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def start_spark(work: str, facts: dict, trace: bool):
    """The benchmark's session: sized from the host, every scratch path
    inside ``work``, the event log on for traced runs."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    heap_gib = max(1, min(32, int(facts["mem_gib"] * 0.3)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the spark-submit launcher JVM
    # the Python workers import logdag_spark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.sql.files.maxPartitionBytes": "8388608",  # as bench.py
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from logdag_spark.session import get_spark

    facts["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return get_spark(
        app_name="perfbench", cores=facts["cores"],
        shuffle_partitions=facts["cores"], extra_conf=conf,
    )


def pipeline_extras(tracer, res, cat) -> dict[str, float]:
    """Traced-run metrics that need the run's frames: series kept by the
    filter, edges per candidate pair, and the events_ts checkpoint size."""
    from pyspark.sql import functions as F

    def n_series(df) -> int:
        return (
            df.where(F.col("measure") == "log_feature")
            .select("measure", "host", "key").distinct().count()
        )

    series_in = n_series(tracer.inputs["filter_series"])
    kept = n_series(tracer.outputs["filter_series"])
    pairs = sum(
        r["count"] * (r["count"] - 1) // 2
        for r in res.evdim.groupBy("unit").count().collect()
    )
    ts_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(cat.path("events_ts"))
        for f in files if f.startswith("part-")
    )
    return {
        "series_filter.kept_frac": kept / series_in if series_in else 0.0,
        "correlate.edge_frac": res.edges.count() / pairs if pairs else 0.0,
        "catalog.events_ts_bytes": ts_bytes,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM and
    its Python workers have exited."""
    from pyspark import SparkContext

    from spans import process_tree

    started = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits at the end of its stdin
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + 60
    while any(map(alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


class Counter:
    """Operations attempted and failed; every failure is logged."""

    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, ops: int, errors: list[str]) -> None:
        from workloads import log

        self.attempted += ops
        self.failed += len(errors)
        for e in errors:
            log(f"check failed: {e}")


def measure(args, bench, ops_per_unit: int, counter: Counter, info: dict) -> float:
    """Input set-ups, the checked warm-up and the timed loop; returns
    setup_s (the session start is added by the caller) and fills
    ``info`` with the samples."""
    materialise_s = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        bench.materialise(rep)
        materialise_s.append(time.perf_counter() - t0)
    bench.prepare()
    t0 = time.perf_counter()
    counter.add(*bench.warm_up())
    warmup_s = time.perf_counter() - t0

    walls: list[float] = []
    loop_t0 = time.perf_counter()
    n_units = 0
    while n_units == 0 or time.perf_counter() - loop_t0 < args.seconds:
        wall, errors = bench.unit()
        n_units += 1
        if wall is not None:
            walls.append(wall)
        counter.add(ops_per_unit, errors)
    if not walls:
        raise RuntimeError("every timed unit raised")
    info.update(input_rows=bench.n_input, materialise_s=materialise_s,
                warmup_s=warmup_s, wall_samples=len(walls), walls_s=walls)
    return statistics.median(materialise_s) + warmup_s


def traced_metrics(spark, bench, pipeline: bool, counter: Counter, info: dict):
    """One traced unit; returns (tracer, traced_s, extra metrics)."""
    from spans import Tracer
    from bench import HEADLINE

    tracer = Tracer(spark)
    if pipeline:
        with tracer.installed():
            traced_s, res, cat = bench.run()
        metrics = pipeline_extras(tracer, res, cat)
        counter.add(1, bench.check(res))
        info["traced_dag_edges_digest"] = bench.last_digest
        bench.cleanup()
        metrics.update({f"entry_queries.{q}_s": 0.0 for q in HEADLINE})
    else:
        traced_s, errors = bench.unit(tracer)
        counter.add(len(HEADLINE), errors)
        metrics = {f"entry_queries.{q}_s": bench.query_s[q] for q in HEADLINE}
        metrics.update(dict.fromkeys(
            ("series_filter.kept_frac", "correlate.edge_frac", "catalog.events_ts_bytes"), 0.0))
    return tracer, traced_s, metrics


def run(args, work: str) -> tuple[dict, dict]:
    """Set up, warm up, time, optionally trace; returns (info, result)."""
    facts = host_facts()
    facts["probe_s"] = host_probe()
    import pyspark

    from spans import PeakRss, fold_event_log, layer_metrics, per_layer_spec
    from bench import HEADLINE
    from workloads import PipelineBench, QueryBench

    facts["pyspark"] = pyspark.__version__
    pipeline = args.workload == "ingest_corr"
    info = {"workload": args.workload, "seed": args.seed,
            "scale": args.scale if pipeline else None,
            "sf": None if pipeline else args.sf}
    counter = Counter()
    rss = PeakRss().start() if args.trace else None
    t0 = time.perf_counter()
    spark = start_spark(work, facts, bool(args.trace))
    try:
        spark.range(1).count()
        info["session_s"] = session_s = time.perf_counter() - t0
        if pipeline:
            bench = PipelineBench(spark, work, args.scale, args.seed)
        else:
            bench = QueryBench(spark, args.sf, args.seed)
        ops = 1 if pipeline else len(HEADLINE)
        setup_s = session_s + measure(args, bench, ops, counter, info)
        wall_s = statistics.median(info["walls_s"])
        counter.add(*bench.final_checks(info))
        if args.trace:
            tracer, traced_s, metrics = traced_metrics(spark, bench, pipeline, counter, info)
    finally:
        stop_spark(spark)
        if rss:
            rss.stop()
    info.update(facts)

    if args.trace:
        folded = fold_event_log(os.path.join(work, "eventlog"))
        metrics.update(layer_metrics(tracer, folded, facts["cores"]))
        attributed = sum(tracer.self_time(layer) for layer in {s["layer"] for s in tracer.spans})
        metrics.update({
            "session.peak_rss_mb": rss.peak_mb,
            "trace.total_s": traced_s,
            "runner.unattributed_s": traced_s - attributed,
            "trace.overhead_s": traced_s - wall_s,
        })
        out = {name: {"value": metrics[name], "unit": unit} for name, unit, _ in per_layer_spec()}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "seq_per_s": bench.n_input / wall_s,
            "ok_frac": (counter.attempted - counter.failed) / counter.attempted,
        }
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    result = {"correct": counter.failed == 0, "attempted": counter.attempted,
              "failed": counter.failed, "metrics": out}
    return info, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                    help="gen_tokens scale of the pipeline workloads")
    ap.add_argument("--sf", choices=("0.01", "0.001"), default=DEFAULT_SF,
                    help="scale factor of the driver-query tables")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logdag_spark", "pipeline", "runner.py")):
        print(f"perfbench: no logdag_spark package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        info, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps({"perfbench_info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
