#!/usr/bin/env python
"""Crossover sweep behind ``query.SINGLE_TASK_MAX_POSTINGS``: the planned
decode volume at which the exact path's split route (a decode task per
postings-file split, doc_id shuffle) starts to beat the one-task route
(scan coalesced to one partition, one Python task, no Exchange).

Builds a synthetic transcript index (``synth_transcripts``, ascii
tokenizer) in a scratch warehouse, then for each target volume picks an OR
query: the single term whose df is closest to the target when the most
common term alone exceeds it, otherwise the shortest prefix of the terms in
df-descending order whose df sum reaches it. With the query's plan cached,
each repeat times ``search_terms(terms, "OR", 10).collect()`` once with the
constant forced above the planned volume (one task) and once forced to 0
(split), alternating which runs first. The first repeat is a warm-up; the
table prints the median of the rest. The routes tie where the two columns
meet; set the constant to a round value below the tie.

    python scripts/route_crossover.py [--turns 200000] [--reps 7]
        [--targets 3000,30000,...] [--master local[nproc]] [--warehouse DIR]

A 200k-turn index is about 46 MB of postings; the build takes a few
minutes on 4 cores. Without ``--warehouse`` the index goes to a temporary
directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_TARGETS = (
    "3000,30000,100000,225000,450000,600000,750000,900000,"
    "1050000,1150000,1300000,1700000"
)


def pick_terms(by_df: list[tuple[str, int]], target: int) -> list[str]:
    """OR-query terms whose df sum is near ``target`` (see module doc)."""
    if by_df[0][1] >= target:
        return [min(by_df, key=lambda td: abs(td[1] - target))[0]]
    terms, total = [], 0
    for term, df in by_df:
        terms.append(term)
        total += df
        if total >= target:
            break
    return terms


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=200_000)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--targets", default=DEFAULT_TARGETS)
    ap.add_argument("--master", default=f"local[{os.cpu_count()}]")
    ap.add_argument("--warehouse", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators import query
    from open_source_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
        transcripts_to_docs,
    )
    from open_source_search_engine_spark.session import get_spark
    from open_source_search_engine_spark.sources.transcripts import (
        synth_transcripts,
    )

    wh = args.warehouse or tempfile.mkdtemp(prefix="route-crossover-")
    spark = get_spark(app_name="route-crossover", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cat = Catalog(spark, wh)
        t0 = time.perf_counter()
        build_index(
            spark,
            cat,
            transcripts_to_docs(synth_transcripts(spark, args.turns)),
            IndexConfig(tokenizer_mode="ascii"),
        )
        print(f"built {args.turns} turns in {time.perf_counter() - t0:.1f} s")
        eng = query.SearchEngine(spark, cat, tokenizer_mode="ascii")
        by_df = [
            (r["term"], int(r["df"]))
            for r in cat.read_table("term_stats")
            .orderBy(F.desc("df"), F.asc("term"))
            .select("term", "df")
            .collect()
        ]

        def timed(terms: list[str], limit: int, want_exchange: bool) -> float:
            query.SINGLE_TASK_MAX_POSTINGS = limit
            df = eng.search_terms(terms, "OR", 10)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("Exchange" in plan) == want_exchange, plan
            t = time.perf_counter()
            df.collect()
            return time.perf_counter() - t

        print("| planned postings | terms | one task (s) | split (s) |")
        print("|---:|---:|---:|---:|")
        for target in sorted({int(x) for x in args.targets.split(",")}):
            terms = pick_terms(by_df, target)
            plan = eng.plan_terms(terms)  # cached from here on
            planned = int(plan["df"].sum())
            walls: dict[str, list[float]] = {"one": [], "split": []}
            for rep in range(args.reps):
                order = ("one", "split") if rep % 2 == 0 else ("split", "one")
                for route in order:
                    limit = planned if route == "one" else 0
                    walls[route].append(timed(terms, limit, route == "split"))
            one = statistics.median(walls["one"][1:] or walls["one"])
            split = statistics.median(walls["split"][1:] or walls["split"])
            print(f"| {planned:,} | {len(terms)} | {one:.3f} | {split:.3f} |")
    finally:
        spark.stop()
        if args.warehouse is None:
            shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
