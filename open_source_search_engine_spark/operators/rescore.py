"""Certified over-fetch/rescore: the one loop behind every BM25 modifier on
the WAND and batch serving paths (term-pair proximity, quoted phrases and
doc-level boosts).

The exact paths (SearchEngine.search_proximity / search_phrase /
search_boosted) apply a modifier to the WHOLE match set -- at scale that
pivots positions or joins the doc store for every posting of a common term.
The scale shape instead:

  1. over-fetch the true BM25 top-m per query from a base retriever --
     block-max WAND per query, or ONE search_many over the whole batch;
  2. rescore only those candidates in one job keyed on (query_id, doc_id);
  3. keep each query's rescored top-k when it is provably final.

EXACT, not approximate. Every modifier is bounded by an affine ceiling of
the doc's BM25, ``rescored <= bm25 * mult + add`` (`Ceiling`), and the base
returns the BM25 top-m under the total order (score DESC, doc_id ASC), so
every doc outside the candidate set scores at most ``weakest * mult + add``
with ``weakest`` the m-th candidate's BM25. A kth rescored score that
clears that ceiling certifies the page -- the cutoff certificate of
"External Merge Sort for Top-K Queries: eager input filtering guided by
histograms" (SIGMOD 2020) and the reference's max-score prefilter
(`PosdbTable.cpp:3910-3947`). A candidate set smaller than m IS the whole
match set, so its single pass is final. A query failing the certificate
grows m on the observed BM25 tail slope (`next_m`) and takes its exact path
once ``cap`` cannot plausibly get there. Exactness never depends on m; only
the cost does.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query import _pair_min_dist_bonus_slots_udf, _tag_ranked, boost_multiplier

RANKED_SCHEMA = "query_id string, rank long, doc_id long, score double, matched int"


class Ceiling(NamedTuple):
    """``rescored <= bm25 * mult + add`` for every doc. ``strict`` when a doc
    can reach the ceiling exactly: a doc outside the candidates tied at the
    ceiling could then still precede the kth on the doc_id tie-break."""

    mult: float
    add: float = 0.0
    strict: bool = False


class Rescorer(NamedTuple):
    """One modifier. Queries are search_many's dicts, normalized to
    {"query_id", "terms" (distinct, present, ascending), "mode", "k"}.
    ``rescore(candidates, queries)`` adds a ``score`` column to keyed BM25
    candidates (query_id, doc_id, bm25, matched), possibly dropping rows;
    ``ceiling(terms)`` bounds a query's rescoring; ``exact(query)`` is its
    exact path, an ordered top-k frame (doc_id, score, matched)."""

    rescore: Callable[[DataFrame, list[dict]], DataFrame]
    ceiling: Callable[[list[str]], Ceiling]
    exact: Callable[[dict], DataFrame]


def certified(kth: float, weakest: float, c: Ceiling) -> bool:
    """True when no doc outside the candidate set, whose BM25 is at most
    ``weakest``, can outrank the kth rescored candidate. A non-positive
    ``mult`` flips or collapses the bound, so it never certifies."""
    bound = weakest * c.mult + c.add
    return c.mult > 0 and (kth > bound if c.strict else kth >= bound)


def next_m(m: int, kth: float, scores: list, c: Ceiling, cap: int) -> int | None:
    """Escalation schedule for a query that failed the certificate at m
    candidates whose BM25 ``scores`` descend. The certificate needs the
    m'-th BM25 at or below s* = (kth - add) / mult; BM25 decays with rank,
    so extrapolate the observed tail slope to the rank reaching s*.

    Returns None -- take the exact path -- at ``cap``, when ``mult <= 0``,
    when fewer than k candidates survived rescoring (kth = -inf), on a flat
    tail (ties can never get there) or when the extrapolated m' exceeds
    ``cap``: the exact path is the loop's terminal state anyway."""
    if m >= cap or c.mult <= 0 or kth == float("-inf"):
        return None
    tail = scores[len(scores) // 2 :]
    slope = (tail[0] - tail[-1]) / max(1, len(tail) - 1)
    if slope <= 0:
        return None
    m_needed = m + int((scores[-1] - (kth - c.add) / c.mult) / slope) + 1
    return None if m_needed > cap else min(max(m * 4, int(m_needed * 1.25)), cap)


def _fetch(engine, pending: dict, wand_kwargs, shared_scan_max_rows) -> list:
    """BM25 top-m of every pending query as (query_id, doc_id, bm25, matched)
    tuples, each query's rows in (score desc, doc_id asc) order -- the
    result contract of both bases."""
    if wand_kwargs is None:
        batch = [dict(q, k=m) for q, m in pending.values()]
        out = engine.search_many(batch, shared_scan_max_rows=shared_scan_max_rows)
        out = out.select("query_id", "doc_id", "score", "matched")
        return [tuple(r) for r in out.collect()]
    from .wand import wand_search

    return [
        (qid, r["doc_id"], r["score"], r["matched"])
        for qid, (q, m) in pending.items()
        for r in wand_search(engine, q["terms"], q["mode"], m, **wand_kwargs).collect()
    ]


def _by_query(rows) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r[0], []).append(r)
    return out


def bounded_topk(
    engine, queries: list[dict], rescorer: Rescorer, cap: int | None = None,
    overfetch: int = 4, wand_kwargs: dict | None = None, default_k: int = 10,
    shared_scan_max_rows: int = 3_000_000,
) -> DataFrame:
    """Certified rescored top-k for ``queries`` (search_many's
    {"query_id", "terms", "mode", "k"} dicts). The base is per-query
    wand_search with ``wand_kwargs``, or one search_many per round when
    ``wand_kwargs`` is None.

    Per query m starts at max(overfetch * k, k + 1), raised to the plan-time
    match-set bound + 1 (rarest df under AND, sum of dfs under OR) when that
    bound is below ``cap``: the whole match set is then fetched and final in
    one pass. ``cap`` defaults to a fixed 200k-row collect budget
    split across the batch, which also bounds what a round collects.

    Returns (query_id, rank, doc_id, score, matched) ordered by query_id,
    rank; unanswerable queries yield no rows (the search_terms contract)."""
    spark = engine.spark
    plan = engine.plan_terms(sorted({t for q in queries for t in q["terms"]}))
    df_of = dict(zip(plan["term"], plan["df"]))
    if cap is None:
        cap = max(2_000, 200_000 // max(1, len(queries)))
    pending: dict[str, tuple[dict, int]] = {}
    for q in queries:
        wanted = sorted(set(q["terms"]))
        terms = [t for t in wanted if t in df_of]
        mode, k = q.get("mode", "AND"), int(q.get("k", default_k))
        if not terms or (mode == "AND" and len(terms) < len(wanted)):
            continue
        dfs = [int(df_of[t]) for t in terms]
        bound = min(dfs) if mode == "AND" else sum(dfs)
        m = max(overfetch * k, k + 1)
        qid = str(q["query_id"])
        pending[qid] = (
            {"query_id": qid, "terms": terms, "mode": mode, "k": k},
            max(m, bound + 1) if bound < cap else m,
        )
    final: list[tuple] = []
    fallback: list[dict] = []
    while pending:
        rows = _fetch(engine, pending, wand_kwargs, shared_scan_max_rows)
        cands, rescored = _by_query(rows), {}
        if rows:
            live = [q for q, _ in pending.values() if q["query_id"] in cands]
            cand_df = spark.createDataFrame(
                rows, "query_id string, doc_id long, bm25 double, matched int"
            )
            out = rescorer.rescore(cand_df, live)
            out = out.select("query_id", "doc_id", "score", "matched")
            rescored = _by_query(out.collect())
        grown = {}
        for qid, (q, m) in pending.items():
            base, k = cands.get(qid), q["k"]
            if not base:
                continue  # empty match set
            top = sorted(rescored.get(qid, []), key=lambda r: (-r[2], r[1]))[:k]
            kth = top[-1][2] if len(top) == k else float("-inf")
            c = rescorer.ceiling(q["terms"])
            if len(base) < m or certified(kth, base[-1][2], c):
                final.extend((qid, i + 1, *r[1:]) for i, r in enumerate(top))
            elif (m2 := next_m(m, kth, [b[2] for b in base], c, cap)) is None:
                fallback.append(q)
            else:
                grown[qid] = (q, m2)
        pending = grown
    out = spark.createDataFrame(final, RANKED_SCHEMA)
    for q in fallback:
        out = out.unionByName(_tag_ranked(rescorer.exact(q), q["query_id"], q["k"]))
    return out.orderBy("query_id", "rank")


def proximity_rescorer(engine, prox_weight: float, exclude_terms=None) -> Rescorer:
    """bm25 + prox_weight * the term-pair min-distance bonus, computed by the
    batched pair kernel over the candidates' positions only (the pivot
    shuffles candidate docs, never a common term's full postings). Each of
    the C(n, 2) pairs adds 1/(min_dist + 1) <= 1/2 for terms at distinct
    positions, so W = prox_weight * C(n, 2) is never reached and a tie at
    the ceiling certifies. The exact path is search_proximity, honoring
    ``exclude_terms`` like the WAND base does."""
    engine._require_positions("the proximity boost")
    w = float(prox_weight)

    def rescore(cands: DataFrame, queries: list[dict]) -> DataFrame:
        plan = engine.plan_terms(sorted({t for q in queries for t in q["terms"]}))
        tid_of = {t: int(i) for t, i in zip(plan["term"], plan["term_id"])}
        slots = [  # lexicographic term slots per query
            (q["query_id"], tid_of[t], slot)
            for q in queries
            for slot, t in enumerate(q["terms"])
        ]
        qterms = engine.spark.createDataFrame(
            slots, "query_id string, term_id long, slot int"
        )
        keys = ["query_id", "doc_id"]
        bonus = (
            engine.decoded_postings(sorted(tid_of.values()), include_positions=True)
            .join(F.broadcast(qterms), "term_id")
            .join(F.broadcast(cands.select(*keys)), keys, "left_semi")
            .groupBy(*keys)
            .agg(F.collect_list(F.struct("slot", "positions")).alias("_slots"))
            .select(*keys, _pair_min_dist_bonus_slots_udf()("_slots").alias("_bonus"))
        )
        score = F.col("bm25") + F.lit(w) * F.coalesce(F.col("_bonus"), F.lit(0.0))
        return cands.join(bonus, keys, "left_outer").withColumn("score", score)

    return Rescorer(
        rescore,
        lambda terms: Ceiling(1.0, w * (len(terms) * (len(terms) - 1) // 2)),
        lambda q: engine.search_proximity(
            q["terms"], q["k"], prox_weight, q["mode"], exclude_terms
        ),
    )


def boost_rescorer(engine, field_weights, recency, exclude_terms=None) -> Rescorer:
    """bm25 * the doc-level boost multiplier (query.boost_multiplier, the
    exact path's expression), from a broadcast join of the candidates to
    the doc store pruned to the boost columns. BM25 is nonnegative, so the
    provable max multiplier M bounds every boosted score by bm25 * M; a doc
    can get exactly M, so the certificate is strict. The exact path is
    search_boosted, honoring ``exclude_terms`` like the WAND base does."""
    docs = engine.catalog.read_table("documents")
    mult, need, max_mult = boost_multiplier(field_weights, recency, docs.columns)
    pruned = docs.select("doc_id", *need)

    def rescore(cands: DataFrame, queries: list[dict]) -> DataFrame:
        joined = F.broadcast(cands).join(pruned, "doc_id")
        return joined.withColumn("score", F.col("bm25") * mult)

    return Rescorer(
        rescore,
        lambda terms: Ceiling(max_mult, strict=True),
        lambda q: engine.search_boosted(
            q["terms"], q["mode"], q["k"], field_weights, recency, exclude_terms
        ),
    )
