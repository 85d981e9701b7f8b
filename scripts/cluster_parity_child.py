#!/usr/bin/env python
"""Child process for the multi-JVM parity gate.

Builds the inverted index from a pre-materialized transcript parquet on the
given Spark master and prints the fixed query battery's results, on the
exact path's one-task route and again (key ``split``) on its split route, as
one JSON line (``PARITY_RESULT {...}``). The parity test runs this under
``local-cluster[2,1,...]`` — two SEPARATE executor JVMs with real netty
shuffle, the closest this sandbox gets to a multi-node cluster — and diffs
the battery bit-for-bit against the in-process ``local[4]`` session's
results. Catching: driver-local state the executors can't see, closure /
Arrow serialization differences, and any aggregation-order dependence in the
scores (the engine's canonical-order float64 aggregation promises none).

Usage: python scripts/cluster_parity_child.py CORPUS_DIR MASTER WAREHOUSE
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: (key, terms, mode, exclude_terms) — mirrors the scaling bench's mix:
#: conjunction, disjunction, stopword-anchored AND (the skew path), negative
#: terms, and a rare term; WAND runs separately below.
BATTERY = [
    ("and", ["spark", "index"], "AND", None),
    ("or", ["vector", "stream", "window"], "OR", None),
    ("stop_and", ["the", "score"], "AND", None),
    ("not", ["query"], "AND", ["merge"]),
    ("rare", ["rareterm_xyzzy"], "AND", None),
]

WAND_TERMS = ["spark", "index"]


def run_battery(eng) -> dict:
    """Battery results as JSON-stable lists; float64 scores survive the
    json round trip exactly (repr-shortest), so equality is bit-equality."""
    from open_source_search_engine_spark.operators.wand import wand_search

    out = {}
    for key, terms, mode, excl in BATTERY:
        rows = eng.search_terms(terms, mode, 10, exclude_terms=excl).collect()
        out[key] = [[int(r.doc_id), float(r.score), int(r.matched)] for r in rows]
    rows = wand_search(eng, WAND_TERMS, "AND", 10).collect()
    out["wand"] = [[int(r.doc_id), float(r.score), int(r.matched)] for r in rows]
    # r5 session-6 serving paths: tiered relaxed page (phase strings),
    # dictionary-driven fuzzy expansion (driver-collected plan metadata —
    # exactly the cross-JVM risk this gate exists for), PRF's two-job
    # mine-then-requery, and the LTR feature export's wide aggregate
    rows = eng.search_relaxed(["spark", "index", "merge"], 10).collect()
    out["relaxed"] = [
        [int(r.doc_id), float(r.score), int(r.matched), r.phase] for r in rows
    ]
    rows = eng.search_fuzzy(["spak", "index"], "AND", 10).collect()
    out["fuzzy"] = [[int(r.doc_id), float(r.score), int(r.matched)] for r in rows]
    rows = eng.search_prf(["spark", "index"], k=10).collect()
    out["prf"] = [[int(r.doc_id), float(r.score), int(r.matched)] for r in rows]
    rows = eng.ltr_features(["spark", "index"], k=10).collect()
    out["ltr"] = [
        [
            int(r.doc_id), float(r.bm25), int(r.matched), float(r.coverage),
            int(r.tf_sum), int(r.tf_min), int(r.tf_max), float(r.idf_sum),
            int(r.dl), float(r.dl_norm),
        ]
        for r in rows
    ]
    return out


def build_and_run(spark, corpus_dir: str, warehouse: str) -> dict:
    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
        transcripts_to_docs,
    )
    from open_source_search_engine_spark.operators import query

    cat = Catalog(spark, warehouse)
    tr = spark.read.parquet(corpus_dir)
    build_index(
        spark, cat, transcripts_to_docs(tr), IndexConfig(tokenizer_mode="ascii")
    )
    out = run_battery(query.SearchEngine(spark, cat, tokenizer_mode="ascii"))
    # the battery's small plans take the one-task exact route; run it again
    # on the split route (a decode task per postings file, doc_id shuffle
    # across the executors) so both routes are diffed across JVMs
    limit = query.SINGLE_TASK_MAX_POSTINGS
    query.SINGLE_TASK_MAX_POSTINGS = 0
    try:
        out["split"] = run_battery(
            query.SearchEngine(spark, cat, tokenizer_mode="ascii")
        )
    finally:
        query.SINGLE_TASK_MAX_POSTINGS = limit
    return out


def main() -> None:
    corpus_dir, master, warehouse = sys.argv[1:4]
    from open_source_search_engine_spark.session import get_spark

    spark = get_spark(
        "osse-parity-child", master=master, shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = build_and_run(spark, corpus_dir, warehouse)
    print("PARITY_RESULT " + json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
