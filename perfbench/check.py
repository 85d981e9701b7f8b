"""Answer checks against the golden scorer, and the percentile rule.

Every answer is compared with ``functions/oracle.py`` on doc_ids, order and
float64 scores, bit for bit; the index statistics are compared with the
oracle index built from the same corpus. A mismatch or an exception counts
as one failed operation.
"""

from __future__ import annotations

import math
import statistics

import pandas as pd

from open_source_search_engine_spark.functions.oracle import (
    OracleIndex,
    build_oracle_index,
    oracle_topk,
)

TOKENIZER = "ascii"


def oracle_index(docs: pd.DataFrame) -> OracleIndex:
    return build_oracle_index(docs[["doc_id", "text"]], mode=TOKENIZER)


def rows_topk(rows) -> list[tuple[int, float]]:
    """Engine rows (doc_id, score, ...) as the oracle's (doc_id, score) list."""
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def expected(index: OracleIndex, terms: list[str], mode: str, k: int,
             exclude: list[str] | None = None) -> list[tuple[int, float]]:
    return oracle_topk(index, terms, mode=mode, k=k, exclude_terms=exclude or None)


def batch_topk(rows) -> dict[str, list[tuple[int, float]]]:
    """search_many rows grouped per query_id, in rank order."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
    return out


def stats_mismatches(index: OracleIndex, term_stats: pd.DataFrame,
                     corpus_stats: dict) -> int:
    """Terms whose (df, cf) differ from the oracle, terms missing on either
    side, plus one each for a wrong n_docs or avgdl."""
    want = {
        t: (len(p), sum(p.values())) for t, p in index.postings.items()
    }
    got = {
        str(r.term): (int(r.df), int(r.cf))
        for r in term_stats.itertuples(index=False)
    }
    bad = sum(1 for t in want.keys() | got.keys() if want.get(t) != got.get(t))
    bad += int(int(corpus_stats["n_docs"]) != index.n_docs)
    bad += int(float(corpus_stats["avgdl"]) != index.avgdl)
    return bad


#: a tail percentile is reported only with at least this many samples above it
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile; None when fewer than MIN_BEYOND samples
    lie beyond it (so p90 needs at least 100 samples). q = 0.5 is the median
    and needs one sample."""
    if not samples:
        return None
    if q == 0.5:
        return statistics.median(samples)
    xs = sorted(samples)
    idx = max(0, math.ceil(q * len(xs)) - 1)
    if len(xs) - (idx + 1) < MIN_BEYOND:
        return None
    return xs[idx]
