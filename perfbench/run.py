"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs one workload of the search engine in this checkout against Spark
``local[nproc]``, checks every answer against the golden oracle, and prints
as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer split). The line before it holds the run's host facts,
input shares and the metrics that belong to one workload only. See
README.md beside this file for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything a run writes lives under here, inside the checkout
WORK = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "index_bytes_per_text_byte": "B/B",
    "query_p50_s": "s",
}


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def pin_environment(run_dir: str) -> str:
    """Drop engine tuning overrides from the environment and keep every
    temporary file of Python, Spark and the JVM inside the run directory."""
    for k in list(os.environ):
        if k.startswith("OSSE_") or k == "SPARK_GRAFT_CPUS":
            del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM that spark-submit starts first would otherwise
    # write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    return tmp


def spark_conf(run_dir: str, tmp: str, traced: bool) -> dict[str, str]:
    import spans

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(spans.event_log_conf(log_dir))
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_scaling(nproc: int) -> dict:
    """The host probe's aggregate scaling at nproc, measured by the first
    run in this checkout and reused by later ones."""
    path = os.path.join(WORK, f"host-probe-{nproc}.json")
    if os.path.exists(path):
        with open(path) as f:
            return dict(json.load(f), measured_by_this_run=False)
    probe = {"host_probe_scaling": host.host_probe(ROOT, nproc)}
    with open(path, "w") as f:
        json.dump(probe, f)
    return dict(probe, measured_by_this_run=True)


def untraced_history(workload: str) -> str:
    return os.path.join(WORK, f"untraced-{workload}.jsonl")


def overhead(workload: str, traced: dict[str, float]) -> dict[str, float]:
    """Traced end-to-end numbers minus the median of the untraced runs this
    checkout recorded for the workload (0 when there are none yet)."""
    rows = []
    if os.path.exists(untraced_history(workload)):
        with open(untraced_history(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    out = {}
    for name in ("query_p50_s", "setup_s"):
        base = [r[name] for r in rows if name in r]
        out[f"traced.{name}"] = traced[name]
        out[f"trace.overhead_{name}"] = traced[name] - statistics.median(base) if base else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the package in this checkout; without it
    # the run fails here, before anything starts
    sys.path.insert(0, ROOT)
    from open_source_search_engine_spark.session import (
        DEFAULT_SHUFFLE_PARTITIONS,
        get_spark,
    )

    import check
    import inputs
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        tmp = pin_environment(run_dir)
        info = {"workload": args.workload, "seed": args.seed, "traced": traced,
                "nproc": nproc, **host_scaling(nproc)}
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark(
                f"perfbench-{args.workload}",
                master=f"local[{nproc}]",
                shuffle_partitions=DEFAULT_SHUFFLE_PARTITIONS,
                extra_conf=spark_conf(run_dir, tmp, traced),
            )
            session_s = time.perf_counter() - t0
            try:
                spark.sparkContext.setLogLevel("ERROR")
                info.update(host.versions(spark))
                run = workloads.Run(
                    spark, spans.Tracer(spark.sparkContext if traced else None),
                    run_dir, args.seed, args.seconds,
                )
                t0 = time.perf_counter()
                docs, live = workloads.materialize(run, inputs.corpus(args.seed))
                index = check.oracle_index(live)
                info["session_s"] = session_s
                info["inputs_s"] = time.perf_counter() - t0
                workloads.WORKLOADS[args.workload](run, docs, live, index)
                run.e2e["setup_s"] += session_s
            finally:
                stop_spark(spark)
        info["peak_rss_mb"] = rss.peak_mb
        info.update(run.info)

        if traced:
            stats = spans.rollup(os.path.join(run_dir, "eventlog"))
            layers = workloads.per_layer(run, stats)
            layers["error_rate"] = run.failed / max(1, run.attempted)
            layers["peak_rss_mb"] = rss.peak_mb
            layers.update(overhead(args.workload, run.e2e))
            info["end_to_end_traced"] = run.e2e
            units = layer_units()
            metrics = {n: {"value": float(layers[n]), "unit": u} for n, u in units.items()}
        else:
            with open(untraced_history(args.workload), "a") as f:
                f.write(json.dumps(run.e2e) + "\n")
            metrics = {n: {"value": float(run.e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
