#!/usr/bin/env python
"""Fixed cost of a Python task on this host: how much a Spark job pays for
running its rows through a Python worker, before any UDF work.

Prints the p50 wall time of three tiny jobs, interleaved over ``--reps``
rounds after a warm-up:

* ``jvm_1row``     -- a 1-row, 1-partition JVM-only job (range + collect);
* ``pandas_1row``  -- the same row through an identity ``mapInPandas``;
* ``pandas_4part`` -- 4 one-row partitions through the same ``mapInPandas``;

and, from inside a worker, the number of ``zipimporter`` entries in its
``sys.path_importer_cache`` and the wall time of one
``importlib.invalidate_caches()``: pyspark's per-task ``setup_spark_files``
makes that call, which on Python 3.11 re-reads the zip directory behind
every cached zipimporter, so that count sets most of the per-task CPU.
The difference pandas_1row - jvm_1row is the number to size a
Python-stage removal with.

    python scripts/python_task_cost.py [--reps 15] [--master local[nproc]]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_source_search_engine_spark.session import get_spark  # noqa: E402


def identity(batches):
    yield from batches


def worker_state(batches):
    """One row from inside a worker: its zipimporter count and the wall
    time of one importlib.invalidate_caches() call there."""
    import importlib
    import sys
    import time
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    n = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pd.DataFrame({"n": [n], "s": [time.perf_counter() - t0]})


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--master", default=f"local[{os.cpu_count()}]")
    args = ap.parse_args()

    spark = get_spark(app_name="python-task-cost", master=args.master)
    one = spark.range(0, 1, 1, 1)
    four = spark.range(0, 4, 1, 4)
    jobs = {
        "jvm_1row": lambda: one.collect(),
        "pandas_1row": lambda: one.mapInPandas(identity, "id long").collect(),
        "pandas_4part": lambda: four.mapInPandas(identity, "id long").collect(),
    }
    for fn in jobs.values():  # warm-up: worker fork, imports, codegen
        fn()
    walls: dict[str, list[float]] = {name: [] for name in jobs}
    for _ in range(args.reps):
        for name, fn in jobs.items():
            walls[name].append(timed(fn))
    state = one.mapInPandas(worker_state, "n long, s double").collect()[0]
    out = {f"{name}_p50_s": round(statistics.median(w), 4) for name, w in walls.items()}
    out["worker_zipimporters"] = int(state["n"])
    out["worker_invalidate_caches_s"] = round(float(state["s"]), 4)
    out["reps"] = args.reps
    out["master"] = spark.sparkContext.master
    for key, value in out.items():
        print(f"{key:28s} {value}")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
