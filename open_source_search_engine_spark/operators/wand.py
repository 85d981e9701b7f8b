"""Block-max WAND query path (the max-score pruning rebuild).

Reference: per-doc max-score prefilter vs the current kth TopTree score
(`PosdbTable.cpp:3910-3947` prefilters, `:4351-4516` getMaxPossibleScore) --
skip a doc when the sum of its terms' score upper bounds cannot beat the
current threshold. The batch/distributed re-expression is *block*-max WAND
over the posting-block skip metadata (`block_max_tf`, `block_min_dl` written
at build time, codec.py doc):

Every posting block covers an explicit hash-PREFIX range of the doc space:
``block_id`` = top ``salt_bits`` bits of the 63-bit doc hash, with
``salt_bits`` df-adaptive per term (index_build._partial_encoder). Prefix
ranges nest, so blocks of different granularities can be arranged into
aligned groups at ANY granularity g:

* a block with salt_bits >= g nests inside one group (block_id >> (s-g));
* a COARSER block (salt_bits < g) overlaps 2^(g-s) groups and is routed
  into each of them (sequence + explode), with its decoded rows masked to
  the group's doc range inside the scorer.

g is picked from the query plan's per-term ``max_salt_bits`` (stored in
term_stats -- no metadata job): fine enough that heavy terms keep their
native granularity, clamped to ``coarsest + max_group_split`` so a
rare-term whole-range block replicates at most ~2^max_group_split times.
This keeps a rare+stopword conjunction distributed across ~2^g scorer
tasks instead of collapsing every posting into ONE task at the rare term's
granularity (the r1-ADVICE failure shape).

Groups score independently and prune independently:

* AND: a group missing any query term cannot contain a conjunctive match --
  dropped by a presence filter before any decode (the analog of
  rarest-first candidate intersection, `PosdbTable.cpp:1935`).
* Upper bound: ub(term, block) = idf * tf_norm(block_max_tf, block_min_dl)
  (monotone in tf, anti-monotone in dl => valid for every doc in the
  block); per group the bound is sum over terms of MAX ub among the term's
  overlapping blocks (a doc lives in exactly one block per term, so the
  max is a valid per-doc bound -- tighter than summing every block).

Two-phase threshold (batch engines have no running kth-score heap across
partitions):

  Phase A: score the G groups with the highest ub_sum exactly; the kth best
           score found becomes the threshold theta.
  Phase B: score every remaining group with ub_sum >= theta - eps; groups
           below the threshold are skipped WITHOUT decoding (the point).
  Final:   union + ORDER BY score DESC, doc_id ASC LIMIT k
           (TakeOrderedAndProject = per-partition TopTree + Msg3a merge,
           `TopTree.cpp:185`, `Msg3a.cpp:807-811`).

Post-plan job count is TWO (fused gmeta -> phase-A selection -> phase-A
scores -> theta; then phase-B + final top-k over the persisted phase-A
result) -- the grouping granularity comes from term_stats and tombstones
ship via a cogrouped join, so neither costs a job.

Tombstones (incremental updates) are cogrouped into the scorer by the SAME
group_id hash -- a distributed join, never a driver-side collected dict
(each scorer task sees only its group's tombstones).

Selection uses bounds; scoring uses the canonical float64 formula in the
exact same operation order as the exact path (query.py `_contributions` /
`_aggregate_scores`), so results are rank-identical -- gated by tests that
diff the two paths on every query tier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import codec
from ..functions.hashing import py_block_ids
from .rescore import (
    Ceiling,
    Rescorer,
    boost_rescorer,
    bounded_topk,
    proximity_rescorer,
)

SCORED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("matched", T.IntegerType(), False),
    ]
)

EPS = 1e-9

#: replication budget: a coarse block fans out into at most ~2^this many
#: groups (plus one doubling headroom for per-partition granularity drift)
MAX_GROUP_SPLIT = 6


def _ub_col(k1: float, b: float, avgdl: float):
    """JVM-side block upper bound -- THE canonical tf-norm expression
    (hot_cache.tf_norm_col) over the block's max tf / min dl, so
    bound >= score holds bit-safely (modulo EPS): bound validity depends
    on both sides sharing one operation order, which sharing the code
    guarantees."""
    from .hot_cache import tf_norm_col

    return F.col("idf") * tf_norm_col(
        F.col("block_max_tf"), F.col("block_min_dl"), k1, b, avgdl
    )


def pick_granularity(
    salt_bits_per_term,
    min_salt_bits_per_term=None,
    max_group_split: int = MAX_GROUP_SPLIT,
) -> int:
    """Grouping granularity g for a query: the finest per-term granularity,
    clamped so the coarsest BLOCK of any query term replicates
    <= 2^max_group_split times. All inputs come from term_stats (no extra
    metadata job).

    The clamp uses each term's min_salt_bits -- its coarsest block -- not
    just the per-term max: within one term, a straggler partial block
    salted far below the term's typical granularity would otherwise fan
    out 2^(g - s) times through _group_expr's sequence+explode, unbounded
    by the across-term clamp (r2 ADVICE). Older snapshots without
    min_salt_bits fall back to max (the previous behavior)."""
    vals = [int(v) for v in salt_bits_per_term]
    if not vals:
        return 0
    if min_salt_bits_per_term is None:
        floor = min(vals)
    else:
        floor = min(int(v) for v in min_salt_bits_per_term)
    return min(max(vals), floor + max_group_split)


def _group_expr(g: int):
    """block -> overlapping group ids at granularity g (array<long>):
    fine blocks nest (one id); coarse blocks fan out over their sub-range."""
    return F.expr(
        f"CASE WHEN salt_bits >= {g} THEN array(shiftright(block_id, salt_bits - {g})) "
        f"ELSE sequence(shiftleft(block_id, {g} - salt_bits), "
        f"shiftleft(block_id + 1, {g} - salt_bits) - 1) END"
    )


def _make_scorer(
    mode: str,
    k1: float,
    b: float,
    avgdl: float,
    g: int,
    n_query_terms: int | None = None,
):
    """Cogrouped scorer for one block group: decode sub-lists, mask coarse
    blocks' rows to the group's doc-hash range, annihilate the group's
    tombstones, build the doc universe (intersection for AND, union for
    OR), accumulate per-term contributions in term-string-ascending order
    (same float64 add sequence as the exact path's array_sort fold)."""

    def score_group(
        key, pdf: pd.DataFrame, tomb_pdf: pd.DataFrame | None
    ) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": np.empty(0, np.int64),
             "score": np.empty(0, np.float64),
             "matched": np.empty(0, np.int32)}
        )
        if len(pdf) == 0:
            return empty
        group_id = int(key[0])
        tombs: dict[int, int] = {}
        if tomb_pdf is not None and len(tomb_pdf):
            tombs = dict(
                zip(
                    tomb_pdf["doc_id"].astype(np.int64).tolist(),
                    tomb_pdf["upto_seq"].astype(np.int64).tolist(),
                )
            )
        # bucket the group's rows per term WITHOUT decoding yet; terms then
        # decode rarest-first (smallest encoded payload first) so an AND
        # group bails out after decoding only the cheap term when a masked
        # rare list turns out empty in this doc range -- never paying the
        # stopword decode (the rarest-first candidate-intersection analog,
        # `PosdbTable.cpp:1935,1998`)
        rows_by_term: dict[str, list] = {}
        bytes_by_term: dict[str, int] = {}
        idf_by_term: dict[str, float] = {}
        for row in pdf.itertuples(index=False):
            t = str(row.term)
            rows_by_term.setdefault(t, []).append(row)
            bytes_by_term[t] = bytes_by_term.get(t, 0) + len(row.doc_ids)
            idf_by_term[t] = float(row.idf)
        if mode == "AND" and n_query_terms is not None:
            if len(rows_by_term) < n_query_terms:
                return empty
        subs = []
        universe = None
        for term in sorted(rows_by_term, key=lambda t: (bytes_by_term[t], t)):
            idl, tfl, dll = [], [], []
            for row in rows_by_term[term]:
                ids = codec.decode_doc_ids(bytes(row.doc_ids))
                tfs = codec.decode_counts(bytes(row.tfs))
                dls = codec.decode_counts(bytes(row.dls))
                if int(row.salt_bits) < g:
                    # replicated coarse block: keep this group's range only
                    keep = (py_block_ids(ids, 63 - g) == group_id)
                    if not keep.all():
                        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                    if ids.size == 0:
                        continue
                if tombs:
                    seg = int(row.seg_seq)
                    keep = np.array(
                        [
                            not (d in tombs and seg <= tombs[d])
                            for d in ids.tolist()
                        ],
                        dtype=bool,
                    )
                    if not keep.all():
                        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                    if ids.size == 0:
                        continue
                idl.append(ids)
                tfl.append(tfs)
                dll.append(dls)
            if not idl:
                # term annihilated by masking/tombstones in this group
                if mode == "AND":
                    return empty
                continue
            # merge same-term sub-lists (segments and nested fine blocks
            # leave several rows per term; doc sets are disjoint, so a
            # sorted merge is exact -- posdbMerge_r, RdbList.cpp:2159)
            ids = np.concatenate(idl)
            tfs = np.concatenate(tfl)
            dls = np.concatenate(dll)
            if len(idl) > 1:
                order = np.argsort(ids, kind="mergesort")
                ids, tfs, dls = ids[order], tfs[order], dls[order]
            subs.append((term, idf_by_term[term], ids, tfs, dls))
            if mode == "AND":
                universe = (
                    ids
                    if universe is None
                    else np.intersect1d(universe, ids, assume_unique=True)
                )
                if universe.size == 0:
                    return empty
        if not subs:
            return empty
        if mode != "AND":
            universe = np.unique(np.concatenate([s[2] for s in subs]))
        if universe is None or universe.size == 0:
            return empty
        # accumulation below walks subs in TERM-STRING order (float64 add
        # sequence identical to the exact path's array_sort fold)
        subs.sort(key=lambda s: s[0])
        acc = np.zeros(universe.size, dtype=np.float64)
        matched = np.zeros(universe.size, dtype=np.int32)
        for term, idf_v, ids, tfs, dls in subs:
            # contribution in the exact path's operation order:
            # idf * (tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl)))
            tf = tfs.astype(np.float64)
            dl = dls.astype(np.float64)
            contrib = idf_v * (
                tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
            )
            # mask to docs actually in the universe (for AND, the sub-list
            # can contain docs outside the intersection)
            idx = np.searchsorted(universe, ids)
            idx_c = np.minimum(idx, universe.size - 1)
            present = universe[idx_c] == ids
            sel = idx_c[present]
            acc[sel] += contrib[present]
            matched[sel] += 1
        if mode == "AND":
            keep = np.full(universe.size, True)
        else:
            keep = matched > 0
        return pd.DataFrame(
            {"doc_id": universe[keep], "score": acc[keep], "matched": matched[keep]}
        )

    return score_group


def _tomb_group_udf(g: int):
    @F.pandas_udf("long")
    def grp(doc_ids: pd.Series) -> pd.Series:
        return pd.Series(
            py_block_ids(doc_ids.to_numpy(np.int64), 63 - g)
        )

    return grp


def wand_search(
    engine,
    query_terms: list[str],
    mode: str = "AND",
    k: int = 10,
    exclude_terms: list[str] | None = None,
    phase_a_groups: int = 8,
    max_group_split: int = MAX_GROUP_SPLIT,
    small_df_cutoff: int = 100_000,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Block-max WAND BM25 top-k. Same result contract as
    SearchEngine.search_terms: (doc_id, score, matched) ordered
    score desc / doc_id asc, limited to k.

    SMALL-QUERY FAST PATH (r3 VERDICT task 6): under AND, the candidate
    set is bounded by the rarest term's df (read from term_stats at plan
    time -- no extra job). When that bound is <= ``small_df_cutoff``,
    theta pruning cannot save more work than the phase-A job it costs, so
    the search collapses to ONE job: score every group that survives the
    AND-presence filter (theta = -inf). Results are identical either way
    -- theta only ever SKIPS groups that cannot beat the kth score -- and
    the rank-identity test tiers run both paths. At 10^12-turn scale a
    stopword-anchored conjunction blows past the cutoff and keeps the
    two-phase pruning that block-max WAND exists for."""
    spark = engine.spark
    plan = engine.plan_terms(query_terms)
    n_q = len(set(query_terms))
    if plan.empty or (mode == "AND" and len(plan) < n_q):
        return spark.createDataFrame([], "doc_id long, score double, matched int")
    k1, b, avgdl = engine.params.k1, engine.params.b, engine.avgdl
    g = pick_granularity(
        plan["max_salt_bits"].fillna(0).tolist(),
        plan["min_salt_bits"].fillna(0).tolist()
        if "min_salt_bits" in plan.columns
        else None,
        max_group_split,
    )

    # term_id -> (term, idf) as LITERAL map expressions rather than a
    # broadcast-joined driver DataFrame: a query has at most tens of terms,
    # so the maps are tiny constants folded into the scan projection -- no
    # createDataFrame roundtrip, no BroadcastExchange stage per query
    term_ids = [int(t) for t in plan["term_id"]]
    term_map = F.create_map(
        *[
            lit
            for tid, term in zip(plan["term_id"], plan["term"])
            for lit in (F.lit(int(tid)), F.lit(str(term)))
        ]
    )
    idf_map = F.create_map(
        *[
            lit
            for tid, idf in zip(plan["term_id"], plan["idf"])
            for lit in (F.lit(int(tid)), F.lit(float(idf)))
        ]
    )
    q_blocks = (
        engine._postings.filter(F.col("term_id").isin(term_ids))
        .select(
            "term_id", "block_id", "salt_bits", "block_max_tf", "block_min_dl",
            "seg_seq", "doc_ids", "tfs", "dls",
        )
        .withColumn("term", term_map[F.col("term_id")])
        .withColumn("idf", idf_map[F.col("term_id")])
        .withColumn("ub", _ub_col(k1, b, avgdl))
        .withColumn("group_id", F.explode(_group_expr(g)))
        .select(
            "group_id", "salt_bits", "term", "idf", "ub", "seg_seq",
            "doc_ids", "tfs", "dls",
        )
    )
    tomb_groups = None
    if engine._tombstones is not None:
        tomb_groups = engine._tombstones.withColumn(
            "group_id", _tomb_group_udf(g)(F.col("doc_id"))
        )
    scorer = _make_scorer(mode, k1, b, avgdl, g, len(plan))
    group_cols = [
        "group_id", "salt_bits", "term", "idf", "seg_seq",
        "doc_ids", "tfs", "dls",
    ]

    def score_groups(blocks: DataFrame) -> DataFrame:
        blocks = blocks.select(*group_cols)
        if tomb_groups is None:
            return blocks.groupBy("group_id").applyInPandas(
                lambda key, pdf: scorer(key, pdf, None),
                schema=SCORED_SCHEMA,
            )
        return (
            blocks.groupby("group_id")
            .cogroup(tomb_groups.groupby("group_id"))
            .applyInPandas(scorer, schema=SCORED_SCHEMA)
        )

    # fast path: candidates <= min-df <= cutoff -> one job, no theta.
    # No gmeta presence pre-filter either: the scorer itself bails on a
    # group missing any query term before decoding anything (the
    # rows_by_term < n_query_terms check), so the semi-join would only
    # add an extra aggregation to save already-cheap work. q_blocks is
    # consumed exactly ONCE here, so it is NOT persisted on this path --
    # the two-phase branch persists it because phases A and B both scan it
    if mode == "AND" and int(plan["df"].min()) <= small_df_cutoff:
        scored = _apply_cursor(
            _apply_exclusions(engine, score_groups(q_blocks), exclude_terms),
            after,
        )
        # returned LAZY: nothing in this lineage is persisted (unlike the
        # two-phase branch below, which must materialize before unpersist),
        # the ordering is total (score desc, doc_id asc), and skipping the
        # collect+createDataFrame roundtrip saves a driver round trip on
        # the serving hot path
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    q_blocks = q_blocks.persist()
    try:
        # group metadata: per-(group, term) MAX bound (a doc is in exactly
        # one of a term's blocks), summed per group; presence count for AND
        gmeta = (
            q_blocks.groupBy("group_id", "term")
            .agg(F.max("ub").alias("ub_t"))
            .groupBy("group_id")
            .agg(
                F.sum("ub_t").alias("ub_sum"),
                F.count(F.lit(1)).alias("n_present"),
            )
        )
        if mode == "AND":
            gmeta = gmeta.filter(F.col("n_present") == len(plan))

        gmeta = gmeta.persist()
        # JOB 1 (fused): group metadata -> phase-A selection (top ub_sum
        # groups, a deterministic limit consumed via semi-join, never
        # collected) -> exact phase-A scores -> theta (kth best score)
        g_a = gmeta.orderBy(F.desc("ub_sum"), F.asc("group_id")).limit(
            phase_a_groups
        ).select("group_id").persist()
        scored_a = score_groups(
            q_blocks.join(F.broadcast(g_a), "group_id", "left_semi")
        )
        scored_a = _apply_cursor(
            _apply_exclusions(engine, scored_a, exclude_terms), after
        )
        scored_a = scored_a.persist()
        top_a = (
            scored_a.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        )
        theta = top_a[k - 1]["score"] if len(top_a) == k else float("-inf")

        # JOB 2: phase B -- only groups whose bound can still beat theta --
        # union with (persisted) phase A, final top-k
        g_b = gmeta.join(g_a, "group_id", "left_anti").filter(
            F.col("ub_sum") >= F.lit(theta - EPS)
        )
        scored_b = _apply_cursor(
            _apply_exclusions(
                engine,
                score_groups(
                    q_blocks.join(
                        g_b.select("group_id"), "group_id", "left_semi"
                    )
                ),
                exclude_terms,
            ),
            after,
        )
        out = (
            scored_a.unionByName(scored_b)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        # materialize before unpersisting the lineage inputs
        rows = out.collect()
        for df in (gmeta, g_a, scored_a):
            df.unpersist()
        return spark.createDataFrame(rows, out.schema) if rows else (
            spark.createDataFrame([], "doc_id long, score double, matched int")
        )
    finally:
        q_blocks.unpersist()


def wand_proximity(
    engine,
    query_terms: list[str],
    k: int = 10,
    prox_weight: float = 1.0,
    overfetch: int = 4,
    max_candidates: int = 10_000,
    **wand_kwargs,
) -> DataFrame:
    """Proximity rescoring on the WAND scale path (r4 VERDICT task 1).

    In the reference, proximity IS the main scorer — the sliding-window
    min-term-pair score is applied to EVERY candidate
    (`PosdbTable.cpp:3404-3620`; pair formula `:744-810`, ~1/(dist+1)).
    Our exact path (SearchEngine.search_proximity) pivots positions for the
    whole match set, which at 10^12-turn scale means shuffling every
    posting of a common term. Here the certified rescoring loop
    (rescore.bounded_topk) over-fetches the BM25 top-m by block-max WAND
    and rescores only those m docs with the pair kernel; its bonus ceiling
    W = prox_weight * C(n_terms, 2) makes the re-ranked top k provably
    exact, and at ``max_candidates`` the exact path takes over (with the
    caller's ``exclude_terms``).

    prox_weight=0 (or a <2-term query) is wand_search verbatim —
    rank-identity gated in tests/test_wand_proximity.py."""
    if prox_weight == 0.0 or len(set(query_terms)) < 2:
        return wand_search(engine, query_terms, "AND", k, **wand_kwargs)
    rescorer = proximity_rescorer(
        engine, prox_weight, wand_kwargs.get("exclude_terms")
    )
    query = {"query_id": "", "terms": query_terms, "k": k}
    return bounded_topk(
        engine, [query], rescorer, max_candidates, overfetch, wand_kwargs
    ).select("doc_id", "score", "matched")


def wand_phrase(
    engine,
    phrase_terms: list[str],
    k: int = 10,
    overfetch: int = 4,
    max_candidates: int = 10_000,
    use_bigrams: bool = True,
    **wand_kwargs,
) -> DataFrame:
    """Quoted-phrase top-k on the WAND scale path (O5 at scale).

    The exact path (SearchEngine.search_phrase) verifies adjacency over the
    FULL termlists of the phrase's words/bigrams — at 10^12-turn scale a
    common bigram's termlist is itself huge. The reference serves quoted
    phrases through the same top-k candidate machinery as plain queries and
    position-verifies candidates (`Query.h:219-226`, `Matches.cpp:252`,
    `PosdbTable.cpp` candidate loop). Here the certified rescoring loop
    (rescore.bounded_topk) over-fetches the BM25 top-m of the phrase's
    DISTINCT terms in AND mode — phrase docs are a subset of that match
    set, and search_phrase's score IS their plain BM25 sum — and keeps the
    candidates that pass position verification (phrase_docs with a
    broadcast ``restrict``, from bigram termlists when indexed). Survivors
    keep their BM25 (ceiling W = 0, ties certify); at ``max_candidates``
    search_phrase takes over.

    Single-word "phrases" are plain top-k: wand_search verbatim.
    Rank/score-identity vs search_phrase is gated in
    tests/test_wand_phrase.py."""
    if wand_kwargs.get("exclude_terms"):
        # the terminal exact path (search_phrase) has no exclusion
        # support, so accepting exclusions here would silently drop them
        # whenever the fallback fires — fail loudly instead
        raise ValueError(
            "wand_phrase does not support exclude_terms; filter the "
            "result or use search_query's grammar"
        )
    if len(phrase_terms) < 2:
        return wand_search(engine, phrase_terms, "AND", k, **wand_kwargs)
    engine._require_positions("the phrase path")

    def verify(cands: DataFrame, queries) -> DataFrame:
        hits = engine._phrase_hits(phrase_terms, use_bigrams, restrict=cands)
        return cands.join(hits, "doc_id", "left_semi").withColumn(
            "score", F.col("bm25")
        )

    rescorer = Rescorer(
        verify, lambda terms: Ceiling(1.0),
        lambda q: engine.search_phrase(phrase_terms, k, use_bigrams),
    )
    query = {"query_id": "", "terms": phrase_terms, "k": k}
    return bounded_topk(
        engine, [query], rescorer, max_candidates, overfetch, wand_kwargs
    ).select("doc_id", "score", "matched")


def wand_boosted(
    engine,
    query_terms: list[str],
    mode: str = "AND",
    k: int = 10,
    field_weights: dict[str, tuple[dict[str, float], float]] | None = None,
    recency: tuple[str, float, float] | None = None,
    overfetch: int = 4,
    max_candidates: int = 10_000,
    **wand_kwargs,
) -> DataFrame:
    """Doc-level score boosts on the WAND scale path (r5; companion to
    wand_proximity).

    The exact path (SearchEngine.search_boosted) joins the FULL candidate
    set to the doc store before top-k — at 10^12-turn scale a stopword-
    anchored query hash-joins billions of rows just to multiply most of
    them by 1.0 and throw them away. Here the certified rescoring loop
    (rescore.bounded_topk) over-fetches the BM25 top-m by block-max WAND
    and joins ONLY those docs to the doc store pruned to the boost columns
    (query.boost_multiplier — identical expression to the exact path). The
    provable max multiplier M bounds every outside doc by its BM25 × M
    (strict certificate); at ``max_candidates``, or when M <= 0, the exact
    path takes over (with the caller's ``exclude_terms``).

    No boosts configured -> wand_search verbatim."""
    if not field_weights and recency is None:
        return wand_search(engine, query_terms, mode, k, **wand_kwargs)
    rescorer = boost_rescorer(
        engine, field_weights or {}, recency, wand_kwargs.get("exclude_terms")
    )
    query = {"query_id": "", "terms": query_terms, "mode": mode, "k": k}
    return bounded_topk(
        engine, [query], rescorer, max_candidates, overfetch, wand_kwargs
    ).select("doc_id", "score", "matched")


def _apply_cursor(
    scored: DataFrame, after: tuple[float, int] | None
) -> DataFrame:
    """search_after's strict (score, doc_id) cursor predicate on a scored
    frame (see SearchEngine.search_after: sound because scores are
    bit-stable). Applied BEFORE each top-k selection; on the two-phase
    path it also runs before theta is read, so theta is the kth best of
    the REMAINING ranking — the cursor bounds scores from ABOVE, so it
    can never raise theta, but phase-B pruning against the page's own
    theta still skips groups exactly as on page 1."""
    if after is None:
        return scored
    s0, d0 = float(after[0]), int(after[1])
    return scored.filter(
        (F.col("score") < F.lit(s0))
        | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > F.lit(d0)))
    )


def _apply_exclusions(
    engine, scored: DataFrame, exclude_terms: list[str] | None
) -> DataFrame:
    if not exclude_terms:
        return scored
    ex_plan = engine.plan_terms(exclude_terms)
    if ex_plan.empty:
        return scored
    ex_docs = (
        engine.decoded_postings([int(t) for t in ex_plan["term_id"]])
        .select("doc_id")
        .distinct()
    )
    return scored.join(ex_docs, "doc_id", "left_anti")


def pruning_stats(
    engine,
    query_terms: list[str],
    mode: str = "AND",
    max_group_split: int = MAX_GROUP_SPLIT,
) -> dict:
    """Observability: how many scorer groups the query fans out over, and
    how many survive the AND-presence filter (the decode-avoidance win).
    Driver-side tiny agg."""
    plan = engine.plan_terms(query_terms)
    if plan.empty:
        return {"groups_total": 0, "groups_surviving": 0, "granularity": 0}
    g = pick_granularity(
        plan["max_salt_bits"].fillna(0).tolist(),
        plan["min_salt_bits"].fillna(0).tolist()
        if "min_salt_bits" in plan.columns
        else None,
        max_group_split,
    )
    term_ids = [int(t) for t in plan["term_id"]]
    grouped = (
        engine._postings.filter(F.col("term_id").isin(term_ids))
        .select("term_id", "block_id", "salt_bits")
        .withColumn("group_id", F.explode(_group_expr(g)))
        .groupBy("group_id")
        .agg(F.countDistinct("term_id").alias("n_present"))
    )
    row = grouped.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.when(F.col("n_present") == len(plan), 1).otherwise(0)
        ).alias("surviving"),
    ).collect()[0]
    total = int(row["total"] or 0)
    surviving = int(row["surviving"] or 0) if mode == "AND" else total
    return {
        "groups_total": total,
        "groups_surviving": surviving,
        "granularity": g,
    }
