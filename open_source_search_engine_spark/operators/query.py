"""Query serving: BM25 top-k over the posting blocks (EP1 rebuild, SURVEY.md §3.1).

Reference pipeline: Query::set2 term parse -> Msg3a broadcast to all doc
shards -> per-shard PosdbTable::intersectLists (rarest-first candidate
intersection `PosdbTable.cpp:1935`, max-score pruning `:3910-3947`, TopTree
bounded top-k `TopTree.cpp:185`) -> Msg3a::mergeLists k-way merge with
score-desc / docid-asc tie-break (`Msg3a.cpp:807-811`).

Spark-first re-expression -- two code paths sharing one formula module:

* ``exact`` path: decode the query terms' blocks (partition-pruned scan on
  term_id), compute per-(term, doc) contributions JVM-side, aggregate with a
  CANONICAL accumulation order (contributions sorted by term string inside an
  ``aggregate(array_sort(collect_list(...)))`` expression -- float64 sums are
  bit-stable across partitionings, SURVEY.md §7.4.1), then
  ``ORDER BY score DESC, doc_id ASC LIMIT k`` which Spark executes as
  TakeOrderedAndProject = partial per-partition top-k + final merge, exactly
  the reference's TopTree -> Msg3a shape (SURVEY.md A9/T1/T2).

* ``wand`` path (block-max pruning): see wand.py. Selects with upper bounds,
  scores with the same canonical formula, so results are identical.

AND semantics = doc must match every term group (`PosdbTable.cpp:2049`);
OR = any term; NOT (-term) = anti-join (`Query.h:191-193`).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Catalog
from ..functions import codec
from ..functions.bm25 import BM25Params, idf as bm25_idf
from ..functions.tokenizer import tokenize

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("seg_seq", T.LongType(), False),
    ]
)

DECODED_POS_SCHEMA = T.StructType(
    DECODED_SCHEMA.fields
    + [T.StructField("positions", T.ArrayType(T.IntegerType()), False)]
)


@dataclass
class QueryResult:
    df: DataFrame  # (doc_id, score, matched)


def _pair_min_dist_bonus_udf():
    """Arrow-vectorized proximity kernel: input is one array-of-arrays cell
    per doc (slot i = the i-th query term's position list, lexicographic
    term order); output is sum over slot pairs (i < j) of
    ``1 / (min |p_i - p_j| + 1)``, accumulated in fixed pair order.

    Per pair the min distance is the classic sorted two-pointer merge,
    vectorized as searchsorted + neighbor compare -- O((tf_a + tf_b) log)
    per doc instead of the O(tf_a * tf_b) position cross-product
    (reference shape: `PosdbTable.cpp:3404-3620` sliding-window pair
    scoring walks both lists linearly too). Built lazily: pandas_udf
    resolution needs an active SparkSession."""

    @F.pandas_udf("double")
    def bonus(cells: pd.Series) -> pd.Series:
        out = np.zeros(len(cells), dtype=np.float64)
        for row_i, lists in enumerate(cells):
            arrs = [
                np.sort(np.asarray(ps, dtype=np.int64))
                for ps in lists
            ]
            out[row_i] = _pairwise_bonus(arrs)
        return pd.Series(out)

    return bonus


def _pairwise_bonus(arrs: list) -> float:
    """sum over slot pairs (i < j) of 1/(min |p_i - p_j| + 1) for SORTED
    int64 position arrays, fixed pair order (the shared inner loop of both
    proximity kernels)."""
    total = 0.0
    for i in range(len(arrs)):
        a = arrs[i]
        if a.size == 0:
            continue
        for j in range(i + 1, len(arrs)):
            b = arrs[j]
            if b.size == 0:
                continue
            # min |a - b|: for each a, nearest b is one of the two
            # neighbors around its insertion point
            idx = np.searchsorted(b, a)
            best = np.iinfo(np.int64).max
            left = idx > 0
            if left.any():
                best = min(
                    best,
                    int(np.min(a[left] - b[idx[left] - 1])),
                )
            right = idx < b.size
            if right.any():
                best = min(
                    best,
                    int(np.min(b[idx[right]] - a[right])),
                )
            total += 1.0 / (float(abs(best)) + 1.0)
    return total


def _pair_min_dist_bonus_slots_udf():
    """Keyed variant of the proximity kernel for the rescoring loop
    (rescore.proximity_rescorer, WAND and batch bases): one cell per
    (query, doc) = array<struct<slot int, positions>>, where different
    queries have different slot counts so the fixed-width array-of-arrays
    input of _pair_min_dist_bonus_udf cannot be used.
    Structs sharing a slot (a term's positions arrive per index segment)
    concatenate before the sort; the pair math and accumulation order are
    the shared _pairwise_bonus, so a (query, doc) cell here is bit-equal
    to the same doc's cell on the single-query path."""

    @F.pandas_udf("double")
    def bonus(cells: pd.Series) -> pd.Series:
        out = np.zeros(len(cells), dtype=np.float64)
        for row_i, slots in enumerate(cells):
            by_slot: dict = {}
            for el in slots:
                s = int(el["slot"])
                by_slot.setdefault(s, []).append(
                    np.asarray(el["positions"], dtype=np.int64)
                )
            arrs = [
                np.sort(np.concatenate(by_slot[s])) for s in sorted(by_slot)
            ]
            out[row_i] = _pairwise_bonus(arrs)
        return pd.Series(out)

    return bonus


def boost_multiplier(
    field_weights: dict[str, tuple[dict[str, float], float]],
    recency: tuple[str, float, float] | None,
    columns: list[str],
):
    """Build the doc-level score multiplier shared by search_boosted (exact
    path) and rescore.boost_rescorer (WAND and batch paths): a pure JVM
    CASE/pow projection over the documents ``columns``; a boost naming any
    other column raises ValueError.

    Returns ``(mult_column, needed_doc_columns, max_multiplier)``.
    ``max_multiplier`` is the provable upper bound on the multiplier any doc
    can receive — per field column the max over the weight map plus the
    default, multiplied across columns; the recency factor is
    0.5^(max(age,0)/halflife) <= 1.0 (age clamps at 0), so it never raises
    the bound. The rescoring certificate rests on this bound."""
    mult = F.lit(1.0)
    max_mult = 1.0
    need = sorted(field_weights)
    for col in need:
        wmap, default = field_weights[col]
        case = F.lit(float(default))
        # reversed when-chain so the FIRST sorted key is the OUTERMOST
        # condition: evaluation order is deterministic regardless of
        # dict insertion order
        for val in sorted(wmap, reverse=True):
            case = F.when(
                F.col(col) == F.lit(val), F.lit(float(wmap[val]))
            ).otherwise(case)
        mult = mult * case
        max_mult *= max([float(default)] + [float(w) for w in wmap.values()])
    if recency is not None:
        ts_col, now_epoch, halflife_days = recency
        need = need + [ts_col]
        age_days = F.greatest(
            (F.lit(float(now_epoch)) - F.unix_timestamp(F.col(ts_col)))
            / F.lit(86400.0),
            F.lit(0.0),
        )
        mult = mult * F.pow(
            F.lit(0.5), age_days / F.lit(float(halflife_days))
        )
    for col in need:
        if col not in columns:
            raise ValueError(
                f"unknown boost column '{col}' -- boostable columns "
                f"are the documents columns {sorted(columns)}"
            )
    return mult, need, max_mult


def _tag_ranked(branch: DataFrame, query_id: str, k: int) -> DataFrame:
    """Tag an ordered top-k branch with its query_id and 1-based rank. The
    limit runs before the unpartitioned rank window, so the window ranks at
    most k rows, never a candidate set."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return branch.limit(k).select(
        F.lit(query_id).alias("query_id"),
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "score",
        "matched",
    )


class SearchEngine:
    """Serves BM25 queries against a built index (catalog tables)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        params: BM25Params | None = None,
        tokenizer_mode: str = "unicode",
    ):
        self.spark = spark
        self.catalog = catalog
        self.params = params or BM25Params()
        self.tokenizer_mode = tokenizer_mode
        row = catalog.read_table("corpus_stats").collect()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        self.block_bits = int(row["block_bits"])
        # indexes written before the column existed always stored positions
        sp = row.asDict().get("store_positions")
        self.store_positions = True if sp is None else bool(sp)
        self._postings = catalog.read_table("postings")
        if "seg_seq" not in self._postings.columns:
            self._postings = self._postings.withColumn(
                "seg_seq", F.lit(0).cast("long")
            )
        self._term_stats = catalog.read_table("term_stats")
        #: term -> (term_id, df, max_salt_bits) | None for confirmed-absent
        #: (the g_termFreqCache analog, `Posdb.cpp:306`; snapshot-bound)
        self._plan_cache: dict[str, tuple | None] = {}
        #: phrase string -> (persisted hits frame, df); bounded FIFO so a
        #: long-lived serving engine answering many expanded queries with
        #: n>=3-word phrase members never accumulates unbounded cached
        #: blocks (evicted entries are unpersisted). Snapshot-bound like
        #: _plan_cache.
        self._phrase_hits_cache: dict[str, tuple[DataFrame, int]] = {}
        self._phrase_hits_cache_max = 32
        #: serve-time result-page LRU (search_cached): (terms, mode, k,
        #: exclusions) -> (collected rows, schema). Snapshot-bound like
        #: everything above; each entry is <= k rows.
        from collections import OrderedDict

        self._serp_cache: OrderedDict = OrderedDict()
        self._serp_cache_max = 256
        # ranged tombstones from incremental updates (operators/updates.py):
        # ignore a doc's postings from segments with seg_seq <= upto_seq
        if catalog.table_exists("tombstones"):
            t = catalog.read_table("tombstones")
            self._tombstones = t if t.limit(1).count() else None
        else:
            self._tombstones = None
        # high-frequency-term shortcut cache (operators/hot_cache.py);
        # consulted only while FRESH: any update bumps max_seg past the
        # cached snapshot and the fast path falls back to the full scan.
        # The cache's BM25 k1/b must ALSO match this engine's params: the
        # cached within-term ranking is the tf_norm order, which depends on
        # k1/b -- a cache built under different params would silently serve
        # a wrongly-selected top-k (r2 ADVICE). Caches predating the k1/b
        # columns are rejected the same way (missing -> mismatch).
        self._hot_topk = None
        self._hot_meta: dict | None = None
        if catalog.table_exists("hot_meta") and catalog.table_exists("hot_topk"):
            meta = catalog.read_table("hot_meta").collect()[0].asDict()
            cur_seg = 0
            if catalog.table_exists("index_meta"):
                cur_seg = int(
                    catalog.read_table("index_meta").collect()[0]["max_seg"]
                )
            params_ok = (
                meta.get("k1") is not None
                and meta.get("b") is not None
                and float(meta["k1"]) == self.params.k1
                and float(meta["b"]) == self.params.b
            )
            if (
                int(meta["max_seg"]) == cur_seg
                and float(meta["avgdl"]) == self.avgdl
                and params_ok
            ):
                self._hot_meta = meta
                self._hot_topk = catalog.read_table("hot_topk")

    # ------------------------------------------------------------------
    def plan_terms(self, query_terms: list[str]) -> pd.DataFrame:
        """Query preamble: resolve terms -> (term, term_id, df, idf).

        The analog of Msg3a::setTermFreqWeights (`Msg3a.cpp:1011-1033`):
        per-term df is read from term_stats (exact, not the reference's
        page-map estimate). Duplicate query terms are dropped (`Query.h:137`
        IGNORE_REPEAT). Returns terms sorted by df ascending (rarest first,
        `PosdbTable.cpp:1998` -- drives candidate generation order).

        Lookups memoize per engine instance -- the reference caches term
        freqs for 500 s (`Posdb.cpp:306` g_termFreqCache); an engine is
        bound to one index snapshot, so its cache never goes stale. Only
        UNSEEN terms (including confirmed-absent ones, cached as misses)
        cost a metadata job; an all-cached plan costs none.
        """
        terms = sorted(set(query_terms))
        cols_out = [
            "term", "term_id", "df", "idf", "max_salt_bits", "min_salt_bits"
        ]
        if not terms:
            return pd.DataFrame(columns=cols_out)
        missing = [t for t in terms if t not in self._plan_cache]
        if missing:
            has_sb = "max_salt_bits" in self._term_stats.columns
            has_minsb = "min_salt_bits" in self._term_stats.columns
            cols = (
                ["term", "term_id", "df"]
                + (["max_salt_bits"] if has_sb else [])
                + (["min_salt_bits"] if has_minsb else [])
            )
            fetched = (
                self._term_stats.filter(F.col("term").isin(missing))
                .select(*cols)
                .toPandas()
            )
            if not has_sb:
                fetched["max_salt_bits"] = 0
            if not has_minsb:
                # pre-min_salt_bits snapshots: assume no coarse straggler
                # blocks below the term's max (the old clamping behavior)
                fetched["min_salt_bits"] = fetched["max_salt_bits"]
            for r in fetched.itertuples(index=False):
                self._plan_cache[r.term] = (
                    int(r.term_id), int(r.df),
                    int(r.max_salt_bits), int(r.min_salt_bits),
                )
            for t in missing:
                self._plan_cache.setdefault(t, None)  # confirmed absent
        hits = [
            (t, *self._plan_cache[t])
            for t in terms
            if self._plan_cache[t] is not None
        ]
        rows = pd.DataFrame(
            hits,
            columns=["term", "term_id", "df", "max_salt_bits", "min_salt_bits"],
        )
        if rows.empty:
            return pd.DataFrame(columns=cols_out)
        rows["idf"] = bm25_idf(rows["df"].to_numpy(np.float64), self.n_docs)
        return rows.sort_values(["df", "term"]).reset_index(drop=True)

    def tokenize_query(self, query: str) -> list[str]:
        return tokenize(query, self.tokenizer_mode)

    # ------------------------------------------------------------------
    def decoded_postings(
        self, term_ids: list[int], include_positions: bool = False
    ) -> DataFrame:
        """Partition-pruned scan of the query terms' blocks, decoded back to
        (term_id, doc_id, tf, dl[, positions]) rows via an Arrow UDF."""
        cols = ["term_id", "seg_seq", "doc_ids", "tfs", "dls"] + (
            ["positions"] if include_positions else []
        )
        blocks = self._postings.filter(F.col("term_id").isin(term_ids)).select(*cols)
        schema = DECODED_POS_SCHEMA if include_positions else DECODED_SCHEMA

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if len(b) == 0:
                    continue
                outs = []
                for row in b.itertuples(index=False):
                    ids = codec.decode_doc_ids(bytes(row.doc_ids))
                    tfs = codec.decode_counts(bytes(row.tfs))
                    out = {
                        "term_id": np.full(ids.size, row.term_id, np.int64),
                        "doc_id": ids,
                        "tf": tfs.astype(np.int32),
                        "dl": codec.decode_counts(bytes(row.dls)).astype(np.int32),
                        "seg_seq": np.full(ids.size, row.seg_seq, np.int64),
                    }
                    if include_positions:
                        flat = codec.decode_positions(tfs, bytes(row.positions))
                        splits = np.cumsum(tfs)[:-1]
                        out["positions"] = np.split(flat.astype(np.int32), splits)
                    outs.append(pd.DataFrame(out))
                yield pd.concat(outs, ignore_index=True)

        decoded = blocks.mapInPandas(decode, schema=schema)
        if self._tombstones is not None:
            t = F.broadcast(self._tombstones)
            decoded = (
                decoded.join(t, "doc_id", "left_outer")
                .filter(
                    F.col("upto_seq").isNull()
                    | (F.col("seg_seq") > F.col("upto_seq"))
                )
                .drop("upto_seq")
            )
        return decoded

    # ------------------------------------------------------------------
    def score_terms(
        self,
        query_terms: list[str],
        mode: str = "AND",
        exclude_terms: list[str] | None = None,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Exact BM25 scoring WITHOUT top-k selection: every matching doc as
        (doc_id, score, matched), unordered. The building block for
        consumers that re-rank or window-cap the full candidate set (e.g.
        the per-source cap, SURVEY.md A6) -- those must NOT pay a global
        sort first, so the orderBy/limit lives only in search_terms.

        ``filter_docs`` (a doc_id DataFrame) restricts the RESULT SET while
        keeping global statistics -- the reference's site-whitelist shape
        (`Msg2.h:13-14`, SURVEY.md F6/F7). The semi-join applies BEFORE
        scoring, so the plan never ranks unrestricted results.
        """
        plan = self.plan_terms(query_terms)
        n_q = len(set(query_terms))
        if plan.empty or (mode == "AND" and len(plan) < n_q):
            # a required term is absent from the corpus -> empty result
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched int"
            )
        contrib = self._contributions(plan)
        if filter_docs is not None:
            contrib = contrib.join(
                filter_docs.select("doc_id"), "doc_id", "left_semi"
            )
        scored = self._aggregate_scores(contrib, list(plan["term"]))
        if mode == "AND":
            scored = scored.filter(F.col("matched") == len(plan))
        if exclude_terms:
            ex_plan = self.plan_terms(exclude_terms)
            if not ex_plan.empty:
                ex_docs = self.decoded_postings(
                    [int(t) for t in ex_plan["term_id"]]
                ).select("doc_id").distinct()
                scored = scored.join(ex_docs, "doc_id", "left_anti")
        return scored

    def search_terms(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        exclude_terms: list[str] | None = None,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Exact BM25 top-k. Returns (doc_id, score, matched) DataFrame,
        ordered score desc / doc_id asc, limited to k (Spark executes this
        as TakeOrderedAndProject: per-partition partial top-k + tiny final
        merge, the TopTree -> Msg3a shape).

        Unrestricted single-term queries on precomputed hot terms answer
        from the shortcut cache (hot_cache.py) -- bit-identical results,
        no postings decode (plan-gated)."""
        uniq = sorted(set(query_terms))
        if len(uniq) == 1 and not exclude_terms and filter_docs is None:
            fast = self._hot_single_term(uniq[0], k)
            if fast is not None:
                return fast
        return (
            self.score_terms(query_terms, mode, exclude_terms, filter_docs)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_cached(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Serve-time result-page cache (the reference caches at this layer
        too: serp/summary caches `SummaryCache.cpp`, `Msg40.cpp`; docid
        slices `Msg17.cpp`): an identical (terms, mode, k, exclusions)
        request within one engine's lifetime returns the collected page
        from a bounded driver-side LRU instead of re-running the top-k job.

        No invalidation logic is needed because a SearchEngine is
        SNAPSHOT-BOUND: ``_postings``/``_term_stats`` resolve to the
        catalog snapshot read at construction and updates only become
        visible through a NEW engine (the pattern every update test uses),
        so a cached page can never go stale within the instance that
        cached it — same lifetime contract as ``_plan_cache`` and the
        phrase-hits cache above.

        Driver memory is bounded: each entry is <= k result rows; the LRU
        holds at most ``_serp_cache_max`` entries. A hit's DataFrame plans
        as a LocalTableScan (no postings scan — gated), rows bit-identical
        to the uncached path.
        """
        key = (
            tuple(query_terms),
            mode,
            int(k),
            tuple(exclude_terms or ()),
        )
        hit = self._serp_cache.get(key)
        if hit is not None:
            self._serp_cache.move_to_end(key)
            rows, schema = hit
            return self.spark.createDataFrame(rows, schema)
        res = self.search_terms(
            query_terms, mode=mode, k=k, exclude_terms=exclude_terms
        )
        rows = res.collect()
        self._serp_cache[key] = (rows, res.schema)
        if len(self._serp_cache) > self._serp_cache_max:
            self._serp_cache.popitem(last=False)
        return self.spark.createDataFrame(rows, res.schema)

    def search_auto(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        exclude_terms: list[str] | None = None,
        wand_df_cutoff: int = 1_000_000,
        **wand_kwargs,
    ) -> DataFrame:
        """Adaptive single-query strategy choice: exact scan vs block-max
        WAND, decided from the term dictionary BEFORE any termlist is
        touched — the reference sizes its intersection strategy the same
        way (rarest-first seeding and docid-range splits chosen off
        per-term list sizes, `PosdbTable.cpp`; `Posdb.h` key layout).

        Routing is deterministic: the planned decode volume is sum(df)
        over the query's terms (the plan dictionary is driver-cached — no
        Spark job). At or below ``wand_df_cutoff`` the exact path wins
        (TakeOrderedAndProject; unrestricted single hot terms answer from
        the shortcut cache inside search_terms); above it, decode volume
        dominates and the two-phase pruned WAND path wins. Both paths are
        rank-identical to search_terms (the WAND side is gated bit-equal),
        so results do NOT depend on the cutoff — only the plan shape does.
        This is the single-query analog of search_many's
        ``shared_scan_max_rows`` routing, with the same contract.
        """
        plan = self.plan_terms(query_terms)
        if plan.empty:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched int"
            )
        if int(plan["df"].sum()) <= int(wand_df_cutoff):
            return self.search_terms(
                query_terms, mode=mode, k=k, exclude_terms=exclude_terms
            )
        from .wand import wand_search

        return wand_search(
            self,
            query_terms,
            mode,
            k,
            exclude_terms=exclude_terms,
            **wand_kwargs,
        )

    def _hot_single_term(self, term: str, k: int) -> DataFrame | None:
        """Shortcut-cache path for one term (HighFrequencyTermShortcuts.cpp
        analog): serve top-k from hot_topk, recomputing the score with the
        live idf/avgdl through the exact path's float64 expression -- the
        within-term ORDER is tf_norm desc, doc_id asc both at build and
        here (idf is a positive per-term constant), so results are
        bit-identical to the full scan. Returns None when inapplicable
        (cache cold/stale, term not hot, or k beyond the cached depth)."""
        if self._hot_topk is None or self._hot_meta is None:
            return None
        plan = self.plan_terms([term])
        if plan.empty:
            return None
        df_t = int(plan["df"].iloc[0])
        if df_t < int(self._hot_meta["min_df"]):
            return None
        if k > int(self._hot_meta["cache_k"]) and df_t > int(
            self._hot_meta["cache_k"]
        ):
            return None  # cache not deep enough for this k
        from .hot_cache import tf_norm_col

        tid = int(plan["term_id"].iloc[0])
        idf_v = float(plan["idf"].iloc[0])
        k1, b = self.params.k1, self.params.b
        score = F.lit(idf_v) * tf_norm_col(
            F.col("tf"), F.col("dl"), k1, b, self.avgdl
        )
        return (
            self._hot_topk.filter(F.col("term_id") == tid)
            .filter(F.col("rnk") <= k)
            .select(
                "doc_id",
                score.alias("score"),
                F.lit(1).cast("int").alias("matched"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_boosted(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        field_weights: dict[str, tuple[dict[str, float], float]] | None = None,
        recency: tuple[str, float, float] | None = None,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Doc-level score multipliers from document attributes — the
        reference's post-term-scoring boosts applied at the same point in
        the pipeline: after per-term BM25 contributions are summed per doc,
        before top-k selection (`PosdbTable.cpp:4095-4122` multiplies the
        final doc score by siteRank and same/unknown-language boosts;
        hashgroup/field weights are config parms `Parms.cpp:3644-3790`,
        `ScoringWeights.cpp:19-53`; page temperature is another doc-level
        multiplier).

        ``field_weights`` maps a documents-table column to
        ``({value: weight}, default_weight)`` — e.g.
        ``{"lang": ({"en": 1.0}, 0.4)}`` is the same-language boost
        (query language matches → full weight, everything else damped),
        ``{"source": ({"src0": 1.4}, 1.0)}`` is the siterank/hashgroup
        shape (trusted sources up-weighted, unlisted sources neutral).

        ``recency`` is ``(ts_col, now_epoch_seconds, halflife_days)`` —
        the page-temperature analog for transcript corpora: score ×
        0.5^(age_days/halflife). Age clamps at 0 so future-dated rows are
        never boosted above 1. ``now`` is an explicit parameter (not the
        wall clock) so results are deterministic and testable.

        Plan shape: candidate set (score_terms, no top-k yet) hash-joined
        to the doc store pruned to doc_id + the boost columns only, the
        multiplier a pure JVM CASE/pow projection (whole-stage codegen,
        no Python), then orderBy+limit → TakeOrderedAndProject. The join
        is the search_sorted/facets shape (J4 family): at 100 TB it is a
        shuffle hash join on doc_id of candidates × pruned doc columns —
        never the full doc rows, never a global sort.

        Returns (doc_id, score, matched) ordered score desc / doc_id asc,
        limited to k. With no boosts configured this is exactly
        search_terms (identity gate in tests/test_boosted_search.py).
        """
        field_weights = field_weights or {}
        if not field_weights and recency is None:
            return self.search_terms(
                query_terms, mode=mode, k=k, exclude_terms=exclude_terms
            )
        docs = self.catalog.read_table("documents")
        mult, need, _ = boost_multiplier(field_weights, recency, docs.columns)
        scored = self.score_terms(query_terms, mode, exclude_terms)
        joined = scored.join(docs.select("doc_id", *need), "doc_id")
        return (
            joined.withColumn("score", F.col("score") * mult)
            .select("doc_id", "score", "matched")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_proximity(
        self,
        query_terms: list[str],
        k: int = 10,
        prox_weight: float = 1.0,
        mode: str = "AND",
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """BM25 with an optional term-pair proximity boost.

        Reference: proximity is CORE ranking there -- the sliding-window
        minimum term-pair score (`PosdbTable.cpp:3404-3620`
        getMinTermPairScoreSlidingWindow; pair formula `:744-810` scores
        ~ 1/(dist+1)). Our BM25 engine keeps base ranking position-free
        (north rule) and exposes the pair-distance boost as an OPTIONAL
        additive component over the already-stored position arrays:

          score = bm25 + prox_weight * sum_{a<b} 1 / (min |p_a - p_b| + 1)

        min over all occurrence pairs of the two terms in the doc; absent
        pairs contribute 0; pair bonuses fold in lexicographic term-pair
        order inside one float64 accumulator (deterministic). prox_weight=0
        is rank-identical to search_terms (gated). Positions decode only
        for the query's terms -- the scan prunes on term_id and reads the
        positions column only here.

        ONE-PASS kernel (r2 VERDICT fix): the per-term position arrays
        pivot into a single row per doc (one shuffle on doc_id), then one
        Arrow-vectorized UDF computes every pair's min distance with the
        classic O(tf_a + tf_b) sorted merge (searchsorted two-pointer) --
        the previous plan paid one JOIN per term pair (O(p^2) joins) and
        materialized the O(tf_a * tf_b) cross-product of positions per doc,
        which is 10^4-10^6 array cells per doc for a stopword pair."""
        plan = self.plan_terms(query_terms)
        n_q = len(set(query_terms))
        if plan.empty or (mode == "AND" and len(plan) < n_q):
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched int"
            )
        scored = self.score_terms(
            query_terms, mode=mode, exclude_terms=exclude_terms
        )
        terms = sorted(plan["term"])
        if prox_weight == 0.0 or len(terms) < 2:
            return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        self._require_positions("the proximity boost")
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        bonus = self.position_bonus(terms, tid_of)
        out = scored.join(bonus, "doc_id", "left_outer")
        score = F.when(
            F.col("_bonus").isNotNull() & (F.col("_bonus") > 0.0),
            F.col("score") + F.lit(float(prox_weight)) * F.col("_bonus"),
        ).otherwise(F.col("score"))
        return (
            out.select("doc_id", score.alias("score"), "matched")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def position_bonus(self, terms: list[str], tid_of: dict) -> DataFrame:
        """(doc_id, _bonus): the term-pair min-distance proximity bonus for
        the given (lexicographically sorted) query terms over their whole
        match set -- the rescoring stage of the exact path
        (search_proximity).

        Pivot: one row per doc, one position array per query term (slot
        order = lexicographic term order; segments' sub-arrays flatten
        unsorted — min-dist is order-invariant, the kernel sorts), then the
        one-pass Arrow kernel sums 1/(min|p_a-p_b|+1) over pairs."""
        decoded = self.decoded_postings(
            [int(tid_of[t]) for t in terms], include_positions=True
        )
        slot_aggs = [
            F.flatten(
                F.collect_list(
                    F.when(
                        F.col("term_id") == int(tid_of[t]), F.col("positions")
                    )
                )
            ).alias(f"_p{i}")
            for i, t in enumerate(terms)
        ]
        posd = decoded.groupBy("doc_id").agg(*slot_aggs)
        return posd.select(
            "doc_id",
            _pair_min_dist_bonus_udf()(
                F.array(*[F.col(f"_p{i}") for i in range(len(terms))])
            ).alias("_bonus"),
        )

    def search_synonyms(
        self,
        query_terms: list[str],
        synonyms: dict[str, list[str]] | None = None,
        mode: str = "AND",
        k: int = 10,
        syn_weight: float = 0.9,
    ) -> DataFrame:
        """Query-side synonym/word-form expansion at plan time.

        Reference: `Synonyms.cpp:59` getSynonyms expands each query word,
        `Query.cpp:414-445` applies it under queryExpansion, and the
        synonym-form posting keys score with a 0.9 weight
        (`PosdbTable.cpp:5863-5940` synonym weight; SURVEY.md X5). The
        system test `test/system/test_search_terms.py:8` pins the visible
        contract: a query term matches documents containing ONLY its
        expansion.

        Each query term t becomes the vote group {t} ∪ synonyms[t] -- the
        J2 sub-list union (`PosdbTable.cpp:1426` setQueryTermInfo: term ∪
        bigrams ∪ synonyms counted as ONE listGroupNum vote). matched =
        number of groups with any member present; AND requires every group.
        score = sum over (group, member-present) of weight * BM25-contrib,
        weight 1.0 for the base term and ``syn_weight`` for alternatives,
        accumulated in fixed (group, member) order (float64-stable).
        Members absent from the corpus drop out of their group; a group
        with NO member in the corpus is unanswerable under AND.
        """
        from ..functions.synonyms import expand

        bases = sorted(set(query_terms))
        groups = {
            t: [
                (m, 1.0 if m == t else float(syn_weight))
                for m in expand(t, synonyms)
            ]
            for t in bases
        }
        scored = self._vote_group_scores(groups, mode)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _vote_group_scores(
        self, groups: dict[str, list[tuple[str, float]]], mode: str = "AND"
    ) -> DataFrame:
        """The J2 vote-group scorer shared by search_synonyms and
        search_expanded: ``groups`` maps group_key -> [(member term,
        weight)] (`PosdbTable.cpp:1426` setQueryTermInfo listGroupNum).
        Returns (doc_id, score, matched) UNORDERED; matched counts groups
        with any member present; AND filters to every viable group. Score
        accumulates weight * BM25-contrib in fixed sorted (group, member,
        weight) order (float64-stable).

        A member containing a space is a MULTI-WORD PHRASE member (the
        `html` -> "hypertext markup language" abbreviation golden,
        `Synonyms.cpp:59` + `test/system/test_search_terms.py:8`): it
        matches by positional adjacency (phrase_postings / the indexed
        bigram termlist) and contributes idf(df_phrase) * tf_norm of the
        phrase occurrence count, weighted like any other alternative. A
        phrase absent from the corpus drops out of its group exactly like
        an absent term."""
        bases = sorted(groups)
        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, matched int"
        )
        if not bases:
            return empty
        members = sorted(
            {m for g in groups.values() for m, _w in g if " " not in m}
        )
        phrase_strs = sorted(
            {m for g in groups.values() for m, _w in g if " " in m}
        )
        plan = self.plan_terms(members)
        present = set(plan["term"])
        # phrase members: hits frame + exact df (from term_stats when the
        # bigram termlist is indexed -- no job; one count job otherwise)
        phrase_frames: dict[str, DataFrame] = {}
        for ph in phrase_strs:
            words = ph.split()
            hits = self.phrase_postings(words)
            pplan = self.plan_terms([ph]) if len(words) == 2 else None
            if pplan is not None and not pplan.empty:
                df_ph = int(pplan["df"].iloc[0])
            elif ph in self._phrase_hits_cache:
                hits, df_ph = self._phrase_hits_cache[ph]
            else:
                hits = hits.persist()
                df_ph = hits.count()
                while len(self._phrase_hits_cache) >= self._phrase_hits_cache_max:
                    old, (old_hits, _) = next(iter(self._phrase_hits_cache.items()))
                    del self._phrase_hits_cache[old]
                    old_hits.unpersist()
                self._phrase_hits_cache[ph] = (hits, df_ph)
            if df_ph > 0:
                idf_ph = float(bm25_idf(float(df_ph), self.n_docs))
                from .hot_cache import tf_norm_col

                k1, b = self.params.k1, self.params.b
                phrase_frames[ph] = hits.select(
                    "doc_id",
                    F.lit(ph).alias("term"),
                    (
                        F.lit(idf_ph)
                        * tf_norm_col(
                            F.col("tf"), F.col("dl"), k1, b, self.avgdl
                        )
                    ).alias("contrib"),
                )
                present.add(ph)
        viable = {
            t: [(m, w) for m, w in groups[t] if m in present] for t in bases
        }
        if not any(viable.values()):
            return empty
        if mode == "AND" and not all(viable.values()):
            return empty
        if plan.empty:
            contrib = self.spark.createDataFrame(
                [], "doc_id long, term string, contrib double"
            )
        else:
            contrib = self._contributions(plan)
        for ph in sorted(phrase_frames):
            contrib = contrib.unionByName(phrase_frames[ph])
        # fixed (group, member) accumulation schedule
        entries = sorted(
            (t, m, float(w)) for t in bases for m, w in viable[t]
        )
        aggs = [
            F.sum(F.when(F.col("term") == m, F.col("contrib"))).alias(f"_c{i}")
            for i, (_t, m, _w) in enumerate(entries)
        ]
        g = contrib.groupBy("doc_id").agg(*aggs)
        # linear-size canonical fold: coalesce-to-0.0 is bit-identical to
        # skip-absent for strictly-positive contributions (x + 0.0 == x),
        # while the when/otherwise form DUPLICATES the accumulated tree in
        # both branches -- O(2^n) expression nodes, which detonates codegen
        # subexpression elimination for wide vote groups (found via a
        # 2x16-member wildcard query; same fix at every slot-fold site)
        score = F.lit(0.0)
        for i, (_t, _m, w) in enumerate(entries):
            c = F.col(f"_c{i}")
            score = score + F.lit(w) * F.coalesce(c, F.lit(0.0))
        col_of = {(t, m): f"_c{i}" for i, (t, m, _w) in enumerate(entries)}
        matched = F.lit(0)
        for t in sorted(viable):
            if not viable[t]:
                continue
            inds = [
                F.when(F.col(col_of[(t, m)]).isNotNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
                for m, _w in viable[t]
            ]
            matched = matched + (F.greatest(*inds) if len(inds) > 1 else inds[0])
        scored = g.select(
            "doc_id", score.alias("score"), matched.cast("int").alias("matched")
        )
        if mode == "AND":
            scored = scored.filter(
                F.col("matched") == len([t for t in bases if viable[t]])
            )
        else:
            scored = scored.filter(F.col("matched") > 0)
        return scored

    def bigram_postings(self, a: str, b: str) -> DataFrame:
        """(doc_id, tf, dl) of the adjacency "a b": tf = number of positions
        p with a@p and b@p+1 (the bigram termlist payload, SURVEY.md X3).

        Served from the indexed bigram termlist when the index carries one
        (partition-pruned scan, no position decode); otherwise derived from
        the two unigram termlists' positions via array_intersect of
        (positions_a + 1) with positions_b -- positions are unique per
        (term, doc), so the intersection size is the exact adjacency count.
        Both paths produce identical rows (gated)."""
        empty = self.spark.createDataFrame([], "doc_id long, tf int, dl int")
        bplan = self.plan_terms([f"{a} {b}"])
        if not bplan.empty:
            return (
                self.decoded_postings([int(bplan["term_id"].iloc[0])])
                .groupBy("doc_id")
                .agg(
                    F.sum("tf").cast("int").alias("tf"),
                    F.max("dl").cast("int").alias("dl"),
                )
            )
        self._require_positions("bigram adjacency without an indexed bigram termlist")
        plan = self.plan_terms([a, b])
        if len(plan) < len({a, b}):
            return empty
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        decoded = self.decoded_postings(
            [int(t) for t in plan["term_id"]], include_positions=True
        )
        pa = (
            decoded.filter(F.col("term_id") == int(tid_of[a]))
            .groupBy("doc_id")
            .agg(
                F.flatten(F.collect_list("positions")).alias("_pa"),
                F.max("dl").alias("dl"),
            )
        )
        pb = (
            decoded.filter(F.col("term_id") == int(tid_of[b]))
            .groupBy("doc_id")
            .agg(F.flatten(F.collect_list("positions")).alias("_pb"))
        )
        return (
            pa.join(pb, "doc_id")
            .select(
                "doc_id",
                F.size(
                    F.array_intersect(
                        F.transform(F.col("_pa"), lambda x: x + F.lit(1)),
                        F.col("_pb"),
                    )
                ).cast("int").alias("tf"),
                F.col("dl").cast("int").alias("dl"),
            )
            .filter(F.col("tf") > 0)
        )

    def _require_positions(self, what: str) -> None:
        """Fail loudly instead of silently returning empty/unboosted
        results: store_positions=False blocks carry positions=b'', which
        positional intersection would read as tf=0 for every doc."""
        if not self.store_positions:
            raise ValueError(
                f"{what} needs word positions, but this index was built "
                "with store_positions=False"
            )

    def phrase_postings(self, words: list[str]) -> DataFrame:
        """(doc_id, tf, dl) of the exact n-word phrase: tf = number of
        start positions p with word_i at p+i for all i (the bigram-termlist
        payload generalized to n words, SURVEY.md X3/O5).

        n=1 falls back to the unigram termlist; n=2 to bigram_postings
        (served from an indexed bigram termlist when present); n>=3 uses
        positional intersection: per doc, slot i's positions shifted by -i,
        tf = |∩_i (positions_i - i)|. Repeated words are handled (the same
        term's array shifts differently per slot)."""
        empty = self.spark.createDataFrame([], "doc_id long, tf int, dl int")
        n = len(words)
        if n == 0:
            return empty
        if n == 1:
            plan = self.plan_terms(words)
            if plan.empty:
                return empty
            return (
                self.decoded_postings([int(plan["term_id"].iloc[0])])
                .groupBy("doc_id")
                .agg(
                    F.sum("tf").cast("int").alias("tf"),
                    F.max("dl").cast("int").alias("dl"),
                )
            )
        if n == 2:
            return self.bigram_postings(words[0], words[1])
        self._require_positions(f"the {n}-word phrase path")
        uniq = sorted(set(words))
        plan = self.plan_terms(uniq)
        if len(plan) < len(uniq):
            return empty
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        decoded = self.decoded_postings(
            [int(t) for t in plan["term_id"]], include_positions=True
        )
        per_term = [
            F.flatten(
                F.collect_list(
                    F.when(
                        F.col("term_id") == int(tid_of[t]), F.col("positions")
                    )
                )
            ).alias(f"_p_{i}")
            for i, t in enumerate(uniq)
        ]
        pivoted = decoded.groupBy("doc_id").agg(
            *per_term, F.max("dl").alias("dl")
        )
        slot_of = {t: i for i, t in enumerate(uniq)}
        # shift each slot's positions by -slot_index in a SEPARATE
        # projection, one single-arg closure per slot: a two-arg lambda
        # (`lambda x, i=i`) is treated by F.transform as an
        # (element, array_index) function, silently replacing the captured
        # shift with the element's index

        def _shift(offset: int):
            return lambda x: x - F.lit(offset)

        shifted = pivoted.select(
            "doc_id",
            "dl",
            *[
                F.transform(F.col(f"_p_{slot_of[w]}"), _shift(i)).alias(
                    f"_s_{i}"
                )
                for i, w in enumerate(words)
            ],
        )
        inter = F.col("_s_0")
        for i in range(1, n):
            inter = F.array_intersect(inter, F.col(f"_s_{i}"))
        return (
            shifted.select(
                "doc_id",
                F.size(inter).cast("int").alias("tf"),
                F.col("dl").cast("int").alias("dl"),
            )
            .filter(F.col("tf") > 0)
        )

    def search_expanded(
        self,
        query: str | list[str],
        mode: str = "AND",
        k: int = 10,
        synonyms: dict[str, list[str]] | None = None,
        syn_weight: float = 0.9,
        bigram_weight: float = 1.4,
        use_bigrams: bool = True,
        number_forms: bool = True,
        use_word_forms: bool = True,
        morphology: bool = True,
    ) -> DataFrame:
        """Full query-TERM expansion at plan time (`Query.cpp:364` setQTerms;
        system goldens `test/system/test_search_terms.py:4-18`: 'the one'
        expands to ['the one', 'the', 'one', '1']):

        * each raw query word becomes ONE vote group (J2) holding its word
          forms (possessive/apostrophe strip, accent fold -- SURVEY.md X4,
          `XmlDoc_Indexing.cpp:2072-2115`), its synonym-table alternatives
          (X5), and its number word<->digit forms, alternatives weighted
          ``syn_weight`` (`PosdbTable.cpp:5863-5940`);
        * each consecutive word pair adds its bigram term's BM25
          contribution scaled by ``bigram_weight`` -- the wiki-bigram boost
          analog (`PosdbTable.h:21` WIKI_BIGRAM_WEIGHT 1.4). The bigram is
          an additive score component, not a vote group: ``matched`` counts
          word groups only, and AND requires every word group, exactly like
          search_terms.

        ``query`` is a raw string (whitespace-split BEFORE tokenization, so
        apostrophe forms survive) or a pre-split word list."""
        from ..functions.synonyms import NUMBER_FORMS, expand, word_forms

        words = query.split() if isinstance(query, str) else list(query)
        words = [w for w in words if w]
        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, matched int"
        )
        if not words:
            return empty
        groups: dict[str, list[tuple[str, float]]] = {}
        bases: list[str] = []  # per-word primary term, for bigram pairs
        for w in words:
            if use_word_forms:
                forms = word_forms(
                    w, self.tokenizer_mode, syn_weight, morphology
                )
            else:
                forms = [(t, 1.0) for t in self.tokenize_query(w)]
            members: list[tuple[str, float]] = []
            seen: set[str] = set()

            def add(term: str, weight: float):
                if term and term not in seen:
                    seen.add(term)
                    members.append((term, weight))

            for m, wt in forms:
                add(m, wt)
                for alt in expand(m, synonyms)[1:]:
                    add(alt, float(syn_weight))
                if number_forms and m in NUMBER_FORMS:
                    add(NUMBER_FORMS[m], float(syn_weight))
            key = w.lower()
            if members and key not in groups:
                groups[key] = members
            bases.append(members[0][0] if members else "")
        if not groups:
            return empty
        scored = self._vote_group_scores(groups, mode)
        pairs = sorted(
            {
                (x, y)
                for x, y in zip(bases, bases[1:])
                if x and y
            }
        )
        if not use_bigrams or not pairs:
            return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        from .hot_cache import tf_norm_col

        out = scored
        score = F.col("score")
        k1, b = self.params.k1, self.params.b
        for i, (x, y) in enumerate(pairs):
            bi = f"{x} {y}"
            bplan = self.plan_terms([bi])
            hits = self.bigram_postings(x, y)
            if not bplan.empty:
                df_bi = int(bplan["df"].iloc[0])
            else:
                df_bi = hits.count()  # one pruned-scan job (fallback path)
            if df_bi <= 0:
                continue
            idf_bi = float(bm25_idf(float(df_bi), self.n_docs))
            pair = hits.select(
                "doc_id",
                (
                    F.lit(idf_bi)
                    * tf_norm_col(F.col("tf"), F.col("dl"), k1, b, self.avgdl)
                ).alias(f"_bg{i}"),
            )
            out = out.join(pair, "doc_id", "left_outer")
            c = F.col(f"_bg{i}")
            # linear fold (see _vote_group_scores): when/otherwise doubles
            # the tree per bigram
            score = score + F.lit(float(bigram_weight)) * F.coalesce(
                c, F.lit(0.0)
            )
        return (
            out.select("doc_id", score.alias("score"), "matched")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_deduped(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        overfetch: int = 4,
        sim_ham: int = 0,
    ) -> DataFrame:
        """Serve-time result dedup with over-fetch refill.

        Reference: `Msg40.cpp:1173-1300` dedups the RESULT PAGE by content
        similarity (contentHash32 exact + percentSimilarSummary near-dup)
        and re-fetches when dedup eats results (`Msg40.cpp:1270-1300`
        over-fetch/refill loop). Spark re-expression: over-fetch
        ``overfetch * k`` results in one top-k job, simhash the result
        docs' stored text (dedup.simhash64 -- only the <= overfetch*k
        result rows are hashed, via a broadcast semi-join against the doc
        store), drop every result whose simhash is within ``sim_ham``
        hamming bits of a higher-ranked KEPT result, refill to k from the
        over-fetched tail.

        ``sim_ham=0`` (content-identity collapse, the contentHash32 analog)
        is pure DataFrame algebra: keep the best-ranked row per simhash
        (greedy == keep-first when similarity is equality). ``sim_ham>0``
        runs the reference's greedy keep-loop in one Arrow kernel over the
        bounded candidate page (<= overfetch*k rows by construction -- a
        serve-node-sized working set, like the reference's).
        Returns (doc_id, score, matched), score desc / doc_id asc, <= k."""
        from .dedup import simhash64

        c = max(int(overfetch) * k, k)
        # the over-fetched page feeds TWO plan branches (the semi-join's id
        # list and the final page join); without materialization Spark
        # recomputes the whole postings-scan + top-k subtree for each.
        # localCheckpoint bounds storage at <= c rows and truncates lineage
        top = self.search_terms(query_terms, mode, c).localCheckpoint(eager=True)
        docs = self.catalog.read_table("documents").select("doc_id", "text")
        page_docs = docs.join(
            F.broadcast(top.select("doc_id")), "doc_id", "left_semi"
        )
        sims = simhash64(page_docs)
        page = top.join(F.broadcast(sims), "doc_id")
        if sim_ham <= 0:
            from pyspark.sql import Window

            w_rank = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            w_grp = Window.partitionBy("simhash").orderBy("rnk")
            return (
                page.withColumn("rnk", F.row_number().over(w_rank))
                .withColumn("grnk", F.row_number().over(w_grp))
                .filter(F.col("grnk") == 1)
                .select("doc_id", "score", "matched")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )

        kk, ham = k, int(sim_ham)

        def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(
                ["score", "doc_id"], ascending=[False, True]
            )
            kept_hashes: list[int] = []
            keep_idx: list[int] = []
            for row_i, h in enumerate(
                pdf["simhash"].astype(np.int64).tolist()
            ):
                hu = h & 0xFFFFFFFFFFFFFFFF
                if all(
                    bin(hu ^ (kh & 0xFFFFFFFFFFFFFFFF)).count("1") > ham
                    for kh in kept_hashes
                ):
                    kept_hashes.append(h)
                    keep_idx.append(row_i)
                    if len(keep_idx) == kk:
                        break
            out = pdf.iloc[keep_idx]
            return out[["doc_id", "score", "matched"]]

        return (
            page.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(
                lambda pdf: greedy(pdf.drop(columns=["_g"])),
                schema="doc_id long, score double, matched int",
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_many(
        self,
        queries: list[dict],
        default_k: int = 10,
        shared_scan_max_rows: int = 3_000_000,
    ) -> DataFrame:
        """Batch serving: MANY queries answered in ONE distributed job.

        ``queries`` = [{"query_id": str, "terms": [...], "mode": "AND"|"OR",
        "k": int}]. Returns (query_id, rank, doc_id, score, matched) with
        per-query rank over (score desc, doc_id asc) limited to that
        query's k. Each query's rows are rank-identical to search_terms --
        the point is amortization: the reference pays one UDP fan-out per
        query (Msg3a), a batch pipeline pays one postings scan for the whole
        workload. Per-doc scores aggregate with the same canonical term
        order, so identity holds bit-exactly.

        Adaptive routing: the shared scan replicates each term's postings
        into every query using the term, so a query over all-common terms
        contributes sum(df) rows to the scoring shuffle -- at 10M docs a
        2-common-term query is ~10M shuffled rows for 10 result rows, and
        the pruned per-query path (TakeOrderedAndProject, hot cache, term-
        partition pruning) wins. Queries whose sum(df) exceeds
        ``shared_scan_max_rows`` therefore become per-query UNION BRANCHES
        of the same returned plan (still ONE job -- branch stages share the
        scheduler wave) while the rest stay in the shared scan. Routing is
        deterministic from the term-dictionary dfs; both paths are rank-
        identical to search_terms, so results do not depend on the cutoff.
        """
        from pyspark.sql import Window

        qmeta_rows = []  # (query_id, term, pos, idf, n_required, k)
        heavy: list[tuple[str, list[str], str, int]] = []
        all_terms: set[str] = set()
        for q in queries:
            terms = sorted(set(q["terms"]))
            all_terms.update(terms)
        plan = self.plan_terms(sorted(all_terms))
        idf_of = dict(zip(plan["term"], plan["idf"]))
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        df_of = dict(zip(plan["term"], plan["df"]))
        for q in queries:
            qid = str(q["query_id"])
            mode = q.get("mode", "AND")
            k = int(q.get("k", default_k))
            terms = sorted(set(q["terms"]))
            present = [t for t in terms if t in idf_of]
            if not present or (mode == "AND" and len(present) < len(terms)):
                continue  # unanswerable -> no rows (same as search_terms)
            if sum(int(df_of[t]) for t in present) > shared_scan_max_rows:
                heavy.append((qid, present, mode, k))
                continue
            required = len(present) if mode == "AND" else 1
            for pos, t in enumerate(present):
                qmeta_rows.append(
                    (qid, t, pos, int(tid_of[t]), float(idf_of[t]), required, k)
                )
        heavy_frames = [
            _tag_ranked(self.search_terms(present, mode=mode, k=k), qid, k)
            for qid, present, mode, k in heavy
        ]
        if not qmeta_rows:
            if not heavy_frames:
                return self.spark.createDataFrame(
                    [],
                    "query_id string, rank long, doc_id long, score double, "
                    "matched int",
                )
            out = heavy_frames[0]
            for f in heavy_frames[1:]:
                out = out.unionByName(f)
            return out.orderBy("query_id", "rank")
        qmeta = self.spark.createDataFrame(
            qmeta_rows,
            "query_id string, term string, pos int, term_id long, idf double, "
            "n_required int, k int",
        )
        term_ids = sorted({r[3] for r in qmeta_rows})
        decoded = self.decoded_postings(term_ids)
        k1, b = self.params.k1, self.params.b
        from .hot_cache import tf_norm_col

        contrib = (
            decoded.join(F.broadcast(qmeta), "term_id")
            .withColumn(
                "contrib",
                F.col("idf")
                * tf_norm_col(F.col("tf"), F.col("dl"), k1, b, self.avgdl),
            )
            .select("query_id", "doc_id", "pos", "contrib", "n_required", "k")
        )
        # Canonical-order float64 sum via per-query term SLOTS: qmeta's
        # `pos` is the term's index in that query's ascending term list, and
        # each (query_id, doc_id, pos) has at most one row, so every slot
        # sum is a single-element sum (bit-exact) and the fixed-order fold
        # below reproduces search_terms' 0.0 + c_t1 + c_t2 ... exactly.
        # Unlike the previous collect_list(struct)+array_sort fold this is a
        # plain codegen HashAggregate with map-side partial aggregation --
        # at 10M docs the object agg spilled and cost ~4x the sequential
        # path; slots make batch amortization hold at scale.
        nslots = max(r[2] for r in qmeta_rows) + 1
        slot_aggs = [
            F.sum(F.when(F.col("pos") == i, F.col("contrib"))).alias(f"_c{i}")
            for i in range(nslots)
        ]
        g = contrib.groupBy("query_id", "doc_id").agg(
            *slot_aggs,
            F.count(F.lit(1)).cast("int").alias("matched"),
            F.first("n_required").alias("n_required"),
            F.first("k").alias("k"),
        )
        # linear fold (see _vote_group_scores): when/otherwise doubles
        # the tree per slot
        score = F.lit(0.0)
        for i in range(nslots):
            score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
        scored = g.select(
            "query_id",
            "doc_id",
            score.alias("score"),
            "matched",
            "n_required",
            "k",
        ).filter(F.col("matched") >= F.col("n_required"))
        # per-partition bounded pre-top-k BEFORE the rank window -- the
        # reference's per-shard TopTree -> Msg3a merge shape
        # (`TopTree.cpp:185`, `Msg3a.cpp:807-811`). A window alone is a
        # FULL SORT of every query's candidate set (at 10M docs: 64 sorts
        # of ~7M rows each -- measured 590 s); any global top-k row is in
        # its Arrow batch's per-query top-k, so the window then ranks at
        # most n_batches * k rows per query.
        max_k = max(int(q.get("k", default_k)) for q in queries)
        out_schema = scored.schema

        def pre_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if len(b) == 0:
                    continue
                b = b.sort_values(
                    ["query_id", "score", "doc_id"],
                    ascending=[True, False, True],
                )
                yield b.groupby("query_id", sort=False).head(max_k)

        pre = scored.mapInPandas(pre_topk, schema=out_schema)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        out = (
            pre.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", "score", "matched")
        )
        for f in heavy_frames:
            out = out.unionByName(f)
        return out.orderBy("query_id", "rank")

    def search_many_proximity(
        self,
        queries: list[dict],
        prox_weight: float = 1.0,
        default_k: int = 10,
        overfetch: int = 4,
        shared_scan_max_rows: int = 3_000_000,
        exhaustive_df_cutoff: int | None = None,
    ) -> DataFrame:
        """Batch serving WITH the term-pair proximity boost (exact:
        search_proximity; WAND scale: wand.wand_proximity; batch: here).
        Per query the result contract is search_proximity(terms, k,
        prox_weight, mode) tagged with (query_id, rank); the reference
        applies the sliding-window pair score to every candidate of every
        query (`PosdbTable.cpp:3404-3620` from the Msg39 per-query entry),
        while a batch pipeline amortizes: each round of the certified
        rescoring loop (rescore.bounded_topk) is ONE search_many over-fetch
        job plus ONE pair-kernel rescore over the broadcast candidate set,
        and a query whose certificate cannot be reached takes its exact
        search_proximity plan as a union branch -- EXACT for every query
        regardless of routing.

        ``exhaustive_df_cutoff`` caps a query's over-fetch m (the loop's
        ``cap``): a query whose plan-time match-set bound is below it
        fetches its whole match set and is final in one pass. It defaults
        to a fixed 200k-row collect budget split evenly across the
        batch. prox_weight=0 delegates to search_many verbatim."""
        if prox_weight == 0.0:
            return self.search_many(
                queries,
                default_k=default_k,
                shared_scan_max_rows=shared_scan_max_rows,
            )
        from .rescore import bounded_topk, proximity_rescorer

        rescorer = proximity_rescorer(self, prox_weight)
        return bounded_topk(
            self, queries, rescorer, exhaustive_df_cutoff, overfetch,
            default_k=default_k, shared_scan_max_rows=shared_scan_max_rows,
        )

    def search_many_boosted(
        self,
        queries: list[dict],
        field_weights: dict[str, tuple[dict[str, float], float]] | None = None,
        recency: tuple[str, float, float] | None = None,
        default_k: int = 10,
        overfetch: int = 4,
        shared_scan_max_rows: int = 3_000_000,
        exhaustive_df_cutoff: int | None = None,
    ) -> DataFrame:
        """Batch serving WITH doc-level score boosts (exact: search_boosted;
        WAND scale: wand.wand_boosted; batch: here). Per query the result
        contract is search_boosted(terms, mode, k, ...) tagged with
        (query_id, rank); the boost config is shared across the batch (one
        serving deployment = one scoring config, like prox_weight in
        search_many_proximity -- the reference's boosts are likewise global
        parms, `Parms.cpp:3644-3790`).

        Same certified rescoring loop and ``exhaustive_df_cutoff`` as
        search_many_proximity, with the boost rescorer (the candidates
        joined to the doc store pruned to the boost columns). Single-term
        queries rescore too: a doc-attribute multiplier can reorder ANY
        candidate list. No boosts configured -> search_many verbatim; a
        non-positive max multiplier collapses every boosted score, so the
        certificate cannot discriminate and such queries end on their exact
        branch."""
        if not field_weights and recency is None:
            return self.search_many(
                queries,
                default_k=default_k,
                shared_scan_max_rows=shared_scan_max_rows,
            )
        from .rescore import boost_rescorer, bounded_topk

        rescorer = boost_rescorer(self, field_weights or {}, recency)
        return bounded_topk(
            self, queries, rescorer, exhaustive_df_cutoff, overfetch,
            default_k=default_k, shared_scan_max_rows=shared_scan_max_rows,
        )

    def _parse_signs(self, query: str) -> tuple[list[str], list[str]]:
        """'-term' sign parsing shared by search / search_with_suggestion
        (`Query.h:191-193`): returns (include_terms, exclude_terms), both
        tokenized. ONE copy so the simple-grammar split can never diverge
        between the serve path and the suggestion path."""
        include, exclude = [], []
        for w in query.split():
            if w.startswith("-") and len(w) > 1:
                exclude.extend(self.tokenize_query(w[1:]))
            else:
                include.extend(self.tokenize_query(w))
        return include, exclude

    def search(self, query: str, mode: str = "AND", k: int = 10) -> DataFrame:
        """Parse a query string: bare terms, '-term' exclusions
        (`Query.h:191-193` sign parsing), and wildcards — a term with a
        leading or trailing ``*`` routes the whole query through
        search_wildcard, where each pattern expands in the (reversed)
        dictionary and scores as a vote group; signs compose (r5 s7).
        For the FULL grammar (quotes, parens, OR, field:value) use
        search_query."""
        raw = query.split()
        has_wild = any(
            not w.startswith("-")
            and (w.startswith("*") or w.endswith("*"))
            and w.strip("*")
            for w in raw
        )
        if has_wild:
            # the tokenizer strips '*', so wildcard queries re-attach the
            # marker to the (single) token of each starred word; signed
            # words tokenize as usual
            include, exclude = [], []
            for w in raw:
                neg = w.startswith("-") and len(w) > 1
                body = w[1:] if neg else w
                lead, trail = body.startswith("*"), body.endswith("*")
                toks = self.tokenize_query(body.strip("*"))
                if neg:
                    exclude.extend(toks)
                elif toks and (lead or trail) and len(toks) == 1:
                    include.append(
                        ("*" if lead else "") + toks[0] + ("*" if trail else "")
                    )
                else:
                    include.extend(toks)
            return self.search_wildcard(
                include, mode=mode, k=k, exclude_terms=exclude
            )
        include, exclude = self._parse_signs(query)
        return self.search_terms(include, mode=mode, k=k, exclude_terms=exclude)

    def search_with_suggestion(
        self,
        query: str,
        k: int = 10,
        mode: str = "AND",
        min_results: int = 1,
        max_dist: int = 2,
        auto_requery: bool = True,
    ) -> DataFrame:
        """Serving-integrated did-you-mean (r4 VERDICT task 5).

        Reference: the speller sits IN the result flow — the SERP path
        consults the unified dictionary and surfaces a "did you mean"
        alongside (or instead of) thin results (`Speller.cpp:69`
        loadUnifiedDict; `Speller.cpp:463` getPhrasePopularity, called from
        the query serving path). Here:

        1. run the normal search; if it returns >= ``min_results`` rows the
           results ship as-is (suggested_query NULL — no recommendation);
        2. otherwise correct each query term to its best dictionary word
           within ``max_dist`` edits (speller.suggest over the index's own
           term_stats vocabulary — dist ASC, df DESC, term ASC, so
           in-vocabulary terms keep themselves); terms with no candidate
           stay verbatim;
        3. if the corrected query differs and ``auto_requery`` is set,
           re-serve it and annotate every row with ``suggested_query``
           (the reference's auto-requery-on-empty shape); else return the
           original (thin) results with the suggestion attached.

        '-term' exclusions are honored on BOTH serves: only POSITIVE
        terms are spell-corrected, the exclusion set rides along verbatim
        into the requery, and ``suggested_query`` renders it back as
        '-term' (a misspelled exclusion excludes nothing, which is
        already its search() behavior — correcting it could newly REMOVE
        results from a query the user typed, the wrong failure mode for
        a suggestion feature).

        Output: (doc_id, score, matched, suggested_query) — score order,
        suggested_query constant per response (NULL = served as asked).

        Driver-side work is bounded: the base page is localCheckpoint-ed
        (<= k rows), so the trigger check AND the returned frame share ONE
        search job; the correction collects <= n_terms suggestion rows.
        """
        from . import speller

        terms, exclude = self._parse_signs(query)
        base = self.search_terms(terms, mode=mode, k=k, exclude_terms=exclude)
        no_sugg = F.lit(None).cast("string")
        if not terms:
            return base.withColumn("suggested_query", no_sugg)
        # materialize the (<= k row) page once: the thin-result check and
        # the caller's collect must not each run the search job
        base = base.localCheckpoint()
        got = base.limit(int(min_results)).collect()
        if len(got) >= int(min_results):
            return base.withColumn("suggested_query", no_sugg)
        vocab = speller.vocab_from_term_stats(self._term_stats)
        sugg = speller.suggest(
            self.spark, vocab, terms, max_dist=max_dist, per_term=1
        )
        best = {r["qterm"]: r["suggestion"] for r in sugg.collect()}
        corrected = [best.get(t, t) for t in terms]
        sugg_str = " ".join(corrected + [f"-{t}" for t in exclude])
        if corrected == terms or not auto_requery:
            sq = F.lit(sugg_str) if corrected != terms else no_sugg
            return base.withColumn("suggested_query", sq)
        return self.search_terms(
            corrected, mode=mode, k=k, exclude_terms=exclude
        ).withColumn("suggested_query", F.lit(sugg_str))

    def serve(
        self,
        query: str,
        k: int = 10,
        mode: str = "AND",
        source_cap: int | None = None,
        source_col: str = "source",
        snippet_width: int = 11,
        min_results: int = 1,
        max_dist: int = 2,
        wand_df_cutoff: int = 1_000_000,
    ) -> DataFrame:
        """Full SERP assembly — the reference's Msg40 result-page flow in
        one call (`Msg40.cpp:841` launchMsg20s fans per-result summary
        requests off the ranked docid list; `Speller.cpp:69` supplies the
        did-you-mean alongside; site clustering caps per-site rows).

        1. rank: BM25 top-k with '-term' exclusions, routed through
           search_auto (exact scan vs block-max WAND by planned decode
           volume — rank-identical either way); with ``source_cap``, the
           cap windows the FULL match set per source (score_terms —
           no global sort) before the top-k, exactly the A6 contract;
        2. did-you-mean: a page thinner than ``min_results`` rows
           spell-corrects the positive terms against the index's own
           vocabulary and re-serves once, annotating ``suggested_query``
           (NULL = served as asked);
        3. snippets: best-window summaries rendered for the PAGE ONLY —
           the doc store is broadcast-semi-joined down to <= k docs before
           tokenization (the Msg20 shape: per-result work is O(k),
           never O(corpus)).

        Output: (rank, doc_id, score, matched, snippet, highlighted,
        suggested_query), rank 1..n by (score DESC, doc_id ASC).
        """
        from . import speller
        from .snippets import best_window_snippets

        out_schema = (
            "rank long, doc_id long, score double, matched int, "
            "snippet string, highlighted string, suggested_query string"
        )
        terms, exclude = self._parse_signs(query)
        if not terms:
            return self.spark.createDataFrame([], out_schema)

        def page(pos_terms: list[str]) -> DataFrame:
            if source_cap is None:
                return self.search_auto(
                    pos_terms,
                    mode=mode,
                    k=k,
                    exclude_terms=exclude,
                    wand_df_cutoff=wand_df_cutoff,
                )
            from pyspark.sql import Window

            scored = self.score_terms(pos_terms, mode, exclude_terms=exclude)
            src = self.catalog.read_table("documents").select(
                "doc_id", source_col
            )
            w_src = Window.partitionBy(source_col).orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return (
                scored.join(src, "doc_id")
                .withColumn("_rn", F.row_number().over(w_src))
                .filter(F.col("_rn") <= int(source_cap))
                .select("doc_id", "score", "matched")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )

        # materialize the (<= k row) page once: the thinness check, the
        # snippet restrict and the final join must not re-run the search
        base = page(terms).localCheckpoint()
        served_terms, sugg_str = terms, None
        if base.limit(int(min_results)).count() < int(min_results):
            vocab = speller.vocab_from_term_stats(self._term_stats)
            sugg = speller.suggest(
                self.spark, vocab, terms, max_dist=max_dist, per_term=1
            )
            best = {r["qterm"]: r["suggestion"] for r in sugg.collect()}
            corrected = [best.get(t, t) for t in terms]
            if corrected != terms:
                sugg_str = " ".join(
                    corrected + [f"-{t}" for t in exclude]
                )
                served_terms = corrected
                base = page(corrected).localCheckpoint()
        docs_page = self.catalog.read_table("documents").join(
            F.broadcast(base.select("doc_id")), "doc_id", "left_semi"
        )
        snip = best_window_snippets(
            docs_page, served_terms, width=snippet_width
        ).select("doc_id", "snippet", "highlighted")
        from pyspark.sql import Window

        # unpartitioned window is safe here: base is already LIMIT k
        w_all = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            base.join(snip, "doc_id", "left_outer")
            .withColumn("rank", F.row_number().over(w_all).cast("long"))
            .withColumn(
                "suggested_query",
                F.lit(sugg_str).cast("string"),
            )
            .select(
                "rank", "doc_id", "score", "matched",
                "snippet", "highlighted", "suggested_query",
            )
            .orderBy("rank")
        )

    def search_grouped(
        self,
        query_terms: list[str],
        group_col: str,
        k: int = 10,
        mode: str = "AND",
        agg: str = "sum",
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Group-level ranking: score GROUPS (conversations, sources,
        sites) by their matching member docs and return the top-k groups
        with each group's best member. For the transcript domain this is
        "find the best CONVERSATION, not just the best turn" — the
        inverse of the per-source cap (A6 caps members inside the doc
        ranking; this ranks the groups themselves, the Clusterdb
        site-cluster aggregation read in the other direction,
        `Clusterdb.h`; J5's top-k → cluster recs).

        ``agg``: 'sum' (total relevance mass — long matching groups win)
        or 'max' (best single member — spike quality wins). Output:
        (group, group_score, n_matching, best_doc_id, best_score),
        ordered group_score DESC, group ASC.

        Scale shape: score_terms' full match set (never globally sorted)
        joins the doc store's (doc_id, group) — column-pruned — then ONE
        map-side-combined groupBy(group_col); the best-member pair rides
        the same aggregation as a max_by struct, so there is no second
        window/shuffle. Top-k via TakeOrderedAndProject.
        """
        if agg not in ("sum", "max"):
            raise ValueError("agg must be 'sum' or 'max'")
        scored = self.score_terms(
            query_terms, mode, exclude_terms=exclude_terms
        )
        grp = self.catalog.read_table("documents").select(
            "doc_id", F.col(group_col).alias("group")
        )
        joined = scored.join(grp, "doc_id")
        gscore = (
            F.sum("score") if agg == "sum" else F.max("score")
        ).alias("group_score")
        # best member = (score DESC, doc_id ASC) argmax; doc_id is
        # negated inside the comparator struct so one max_by gives the
        # deterministic tie-break without a window
        best = F.max(
            F.struct(
                F.col("score").alias("s"),
                (-F.col("doc_id")).alias("nd"),
            )
        ).alias("_best")
        return (
            joined.groupBy("group")
            .agg(
                gscore,
                F.count(F.lit(1)).cast("long").alias("n_matching"),
                best,
            )
            .select(
                "group",
                "group_score",
                "n_matching",
                (-F.col("_best.nd")).cast("long").alias("best_doc_id"),
                F.col("_best.s").alias("best_score"),
            )
            .orderBy(F.desc("group_score"), F.asc("group"))
            .limit(k)
        )

    def related_terms(
        self,
        query_terms: list[str],
        k_docs: int = 50,
        top_terms: int = 10,
        mode: str = "AND",
        min_df: int = 2,
    ) -> DataFrame:
        """Related-topic terms mined from the result page — the
        reference's "gigabits" (`Msg40.cpp:1545` uses the gigabit vector
        for topic clustering over the result summaries; `Msg40.cpp:1817`
        prepares query-term info for them; PageResults renders the list
        as related topics beside the results).

        score(term) = occurrences within the top ``k_docs`` result docs
        × the engine's own BM25 idf, ln((N − df + 0.5)/(df + 0.5) + 1) —
        frequent-in-page but rare-in-corpus terms surface, stopwords
        self-damp through the idf. Query terms are excluded; ``min_df``
        drops hapax noise. Output: (term, score, tf_page, df) ordered
        score DESC, term ASC, limited to ``top_terms``.

        Scale shape: the page is <= k_docs rows (broadcast semi-join into
        the doc store), so only page docs tokenize — O(k·dl), never
        O(corpus); the page-term aggregate (<= k·dl distinct terms) then
        broadcast-joins into the term dictionary for global dfs.
        """
        page = self.search_terms(query_terms, mode, k_docs)
        docs_page = self.catalog.read_table("documents").join(
            F.broadcast(page.select("doc_id")), "doc_id", "left_semi"
        )
        from .dedup import tokens_col

        toks = docs_page.select(
            F.explode(tokens_col(F.col("text"))).alias("term")
        )
        q = sorted(set(query_terms))
        cand = (
            toks.filter(~F.col("term").isin(q))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("tf_page"))
        )
        ts = self._term_stats.select("term", "df")
        n = float(self.n_docs)
        idf = F.log(
            (F.lit(n) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        return (
            cand.join(ts, "term")
            .filter(F.col("df") >= int(min_df))
            .select(
                "term",
                (F.col("tf_page") * idf).alias("score"),
                F.col("tf_page").cast("long").alias("tf_page"),
                F.col("df").cast("long").alias("df"),
            )
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(int(top_terms))
        )

    def more_like_this(
        self,
        doc_id: int,
        top_terms: int = 5,
        k: int = 10,
    ) -> DataFrame:
        """Related-docs serving ("more like this") — the reference's
        related-pages flow re-queries with terms mined from a seed result
        (`Msg40.cpp:1545` gigabit vector; PageResults' related-pages link
        re-enters the query path with them). Two steps, both on existing
        engine machinery:

        1. **Seed keywords**: tokenize the STORED seed doc (one row from
           the doc store — the reference refetches the title rec the same
           way, `Msg20` by docid), weight each distinct term by
           tf(seed) × the engine's BM25 idf from term_stats, keep the top
           ``top_terms`` (score DESC, term ASC — deterministic).
        2. **Re-query**: a normal BM25 OR query over those keywords with
           the seed itself excluded from the result set.

        Scale shape: step 1 touches ONE doc-store row (driver-side
        tokenize of a single text, like the speller's query handling) and
        ``top_terms`` term_stats lookups through the memoized plan cache;
        step 2 is the ordinary partition-pruned top-k. Nothing scans the
        corpus outside the final scoring job.
        """
        rows = (
            self.catalog.read_table("documents")
            .filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .collect()
        )
        schema = "doc_id long, score double, matched int"
        if not rows or not rows[0]["text"]:
            return self.spark.createDataFrame([], schema)
        toks = self.tokenize_query(rows[0]["text"])
        if not toks:
            return self.spark.createDataFrame([], schema)
        from collections import Counter

        tf = Counter(toks)
        plan = self.plan_terms(list(tf))  # (term, df, idf, ...) pandas
        if plan.empty:
            return self.spark.createDataFrame([], schema)
        plan = plan.assign(
            kscore=[
                tf[t] * i for t, i in zip(plan["term"], plan["idf"])
            ]
        ).sort_values(
            ["kscore", "term"], ascending=[False, True], kind="mergesort"
        )
        sel = list(plan["term"].head(int(top_terms)))
        return (
            self.score_terms(sel, "OR")
            .filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def search_prf(
        self,
        query_terms: list[str],
        k: int = 10,
        fb_docs: int = 10,
        n_expand: int = 5,
        beta: float = 0.4,
        min_df: int = 2,
        mode: str = "AND",
    ) -> DataFrame:
        """Pseudo-relevance-feedback requery (Rocchio, public IR since
        1971): run the base query, mine expansion terms from its top
        ``fb_docs`` results, then re-score a weighted OR over
        original ∪ expansion — the automated version of the reference's
        query-refinement flow, where PageResults offers gigabit-derived
        refined searches that re-enter the query path (`Msg40.cpp:1545`
        gigabit vector over result summaries; PageResults' related-topics
        links are exactly "requery with this term added").

        Expansion mining IS ``related_terms`` (tf_page × idf, query terms
        excluded, df ≥ ``min_df``, top ``n_expand`` by score DESC / term
        ASC — deterministic). The requery scores every term's ordinary
        BM25 contribution scaled by weight 1.0 for original terms and
        ``beta`` for expansion terms (Rocchio's β; a=1, γ=0 — no
        negative feedback, matching the reference's refinement UX),
        summed in canonical term order (bit-stable). Output:
        (doc_id, score, matched) ordered score DESC / doc_id ASC,
        ``matched`` counting hits over the EXPANDED term set.

        Scale shape: expansion mining is related_terms' page-restricted
        O(fb_docs·dl) job (never a corpus scan); the driver collects only
        ≤ ``n_expand`` term strings (bounded metadata); the requery is
        the ordinary partition-pruned weighted-OR top-k
        (TakeOrderedAndProject). Two jobs total.
        """
        if beta < 0.0:
            raise ValueError("beta must be >= 0")
        exp = [
            r["term"]
            for r in self.related_terms(
                query_terms,
                k_docs=int(fb_docs),
                top_terms=int(n_expand),
                mode=mode,
                min_df=int(min_df),
            )
            .select("term")
            .collect()
        ]
        q = sorted(set(query_terms))
        plan = self.plan_terms(sorted(set(q) | set(exp)))
        if plan.empty:
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched int"
            )
        contrib = self._contributions(plan).withColumn(
            "contrib",
            F.col("contrib")
            * F.when(F.col("term").isin(q), F.lit(1.0)).otherwise(
                F.lit(float(beta))
            ),
        )
        return (
            self._aggregate_scores(contrib, list(plan["term"]))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def ltr_features(
        self, query_terms: list[str], k: int = 100
    ) -> DataFrame:
        """Learning-to-rank feature extraction: one row of ranking features
        per candidate doc for the top ``k`` BM25-OR candidates — the
        training-data export a ranking pipeline derives its LTR model from.
        The reference hand-mixes exactly these signals inside one scorer
        (`PosdbTable.cpp` term-pair/density/spam weights folded into a
        single score); a Spark-native stack exports them as columns and
        lets the model learn the mix.

        Features (all from the ONE postings scan the ordinary query path
        does): ``bm25`` (bit-identical to search_terms — same canonical-
        order conditional-sum fold), ``matched`` / ``coverage`` (hit count
        over the query's distinct terms), ``tf_sum/tf_min/tf_max``,
        ``idf_sum`` (of matched terms), ``dl`` and ``dl_norm`` (=dl/avgdl).

        Scale shape: partition-pruned decode of the query terms' blocks,
        ONE map-side-combined groupBy(doc_id) carrying every feature agg,
        top-k via TakeOrderedAndProject. No extra shuffle vs a plain
        query; no Python beyond the shared Arrow decode.
        """
        plan = self.plan_terms(query_terms)
        n_q = len(set(query_terms))
        schema = (
            "doc_id long, bm25 double, matched int, coverage double, "
            "tf_sum long, tf_min int, tf_max int, idf_sum double, "
            "dl int, dl_norm double"
        )
        if plan.empty:
            return self.spark.createDataFrame([], schema)
        decoded = self.decoded_postings([int(t) for t in plan["term_id"]])
        meta = self.spark.createDataFrame(plan[["term_id", "term", "idf"]])
        k1, b = self.params.k1, self.params.b
        from .hot_cache import tf_norm_col

        rows = decoded.join(F.broadcast(meta), "term_id").withColumn(
            "contrib",
            F.col("idf")
            * tf_norm_col(F.col("tf"), F.col("dl"), k1, b, self.avgdl),
        )
        ts = sorted(set(plan["term"]))
        aggs = [
            F.sum(F.when(F.col("term") == t, F.col("contrib"))).alias(
                f"_c{i}"
            )
            for i, t in enumerate(ts)
        ]
        g = rows.groupBy("doc_id").agg(
            *aggs,
            F.count(F.lit(1)).cast("int").alias("matched"),
            F.sum("tf").cast("long").alias("tf_sum"),
            F.min("tf").cast("int").alias("tf_min"),
            F.max("tf").cast("int").alias("tf_max"),
            F.sum("idf").alias("idf_sum"),
            F.first("dl").cast("int").alias("dl"),
        )
        # linear fold (see _vote_group_scores): when/otherwise doubles
        # the tree per term
        score = F.lit(0.0)
        for i in range(len(ts)):
            score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
        return (
            g.select(
                "doc_id",
                score.alias("bm25"),
                "matched",
                (F.col("matched") / F.lit(float(n_q))).alias("coverage"),
                "tf_sum",
                "tf_min",
                "tf_max",
                "idf_sum",
                "dl",
                (F.col("dl") / F.lit(float(self.avgdl))).alias("dl_norm"),
            )
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(int(k))
        )

    def count_matches(self, query_terms: list[str]) -> DataFrame:
        """Total-hits counting — the reference's "results 1-10 of about N"
        figure (`Msg40.cpp` getNumTotalHits; PageResults renders it on
        every SERP). One row: (n_terms, n_and, n_or) — how many docs match
        ALL the query terms and how many match ANY, in ONE aggregation
        over the same scoring frame the SERP uses (tombstones, segment
        read-repair and salting all inherited for free).

        Scale shape: partition-pruned postings scan + a map-side-combined
        count — no top-k, no sort, no data rows to the driver. The full
        agg is exact, unlike the reference's page-map ESTIMATE
        (`Posdb.cpp` getTermFreq reads list sizes) — Spark makes the exact
        count as cheap as the estimate, so there is no reason to guess.
        """
        uniq = sorted(set(query_terms))
        n = len(uniq)
        scored = self.score_terms(uniq, "OR")
        return scored.agg(
            F.lit(n).cast("long").alias("n_terms"),
            F.count(F.when(F.col("matched") == n, 1)).alias("n_and"),
            F.count(F.lit(1)).alias("n_or"),
        )

    def df_histogram(self) -> DataFrame:
        """Index telemetry: the term-dictionary's document-frequency
        distribution in log2 buckets — the reference's stats page renders
        exactly this shape of termlist telemetry (`PageStats.cpp` prints
        Posdb record/list distribution; `Rdb` exposes per-base list
        counts). Pipeline use: choosing stopword/salting cutoffs and
        spotting dictionary bloat (a fat tail of df=1 terms is OCR noise
        or PII leakage).

        Output per bucket b (df in [2^b, 2^(b+1))): lo = 2^b, n_terms,
        sum_df (total postings those terms contribute). The bucket index
        is integer arithmetic — length(bin(df)) - 1 — NOT floor(log2(df)),
        whose float rounding at exact powers of two differs by backend.

        Scale shape: one map-side-combined agg over term_stats (already
        tiny next to postings); no joins, no window.
        """
        ts = self._term_stats.select("term", "df")
        bucket = (F.length(F.bin(F.col("df"))) - 1).cast("long")
        return (
            ts.groupBy(bucket.alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("df").alias("sum_df"),
            )
            .select(
                "bucket",
                F.expr("shiftleft(1L, cast(bucket AS int))")
                .cast("long")
                .alias("lo"),
                F.col("n_terms").cast("long").alias("n_terms"),
                F.col("sum_df").cast("long").alias("sum_df"),
            )
            .orderBy("bucket")
        )

    def search_prefix(
        self,
        patterns: list[str],
        mode: str = "AND",
        k: int = 10,
        max_expansions: int = 16,
    ) -> DataFrame:
        """Prefix/wildcard query terms: ``"pre*"`` expands to the top
        ``max_expansions`` dictionary terms sharing the prefix (df DESC,
        term ASC — most selective-by-volume first, deterministic) and the
        expansion scores as ONE vote group through the J2 machinery
        (`_vote_group_scores`), exactly like a synonym group: OR within
        the group, the query's AND/OR across groups, matched counts
        groups. A pattern without ``*`` is its own single-member group.

        Beyond the reference's query grammar (Gigablast expands synonyms
        and word forms, `Synonyms.cpp:59`, but has no wildcard); the
        expansion reuses that exact vote-group scoring so a prefix behaves
        like a dictionary-derived synonym set.

        Scale shape: expansion happens in the term DICTIONARY only —
        a pushed-down StartsWith filter on term_stats (tiny next to
        postings) + TakeOrderedAndProject, collecting <= max_expansions
        rows per pattern to the driver (plan metadata, same order as
        plan_terms). The postings scan stays partition-pruned to the
        expanded terms; an unmatched prefix under AND yields an empty
        page (same contract as an absent term).
        """
        return self.search_wildcard(patterns, mode, k, max_expansions)

    def _reversed_dict(self) -> DataFrame:
        """The reversed-term dictionary backing search_suffix, materialized
        once per engine: term_stats re-keyed by reverse(term) and
        range-partitioned + sorted on that key, so a leading-wildcard
        lookup becomes a PREFIX range probe (the classic Lucene
        ReversedWildcardFilter move). In-memory the range partitioning
        gives InMemoryTableScan batch pruning on rterm bounds; a
        deployment persists this as a second sort order of the (tiny)
        dictionary table, making ``*fix`` a min/max-pruned range scan
        instead of a full-dictionary regex pass."""
        if getattr(self, "_rdict", None) is None:
            self._rdict = (
                self._term_stats.filter(~F.col("term").contains(" "))
                .select(
                    F.reverse(F.col("term")).alias("rterm"), "term", "df"
                )
                .repartitionByRange(8, "rterm")
                .sortWithinPartitions("rterm")
                .persist()
            )
        return self._rdict

    def search_suffix(
        self,
        patterns: list[str],
        mode: str = "AND",
        k: int = 10,
        max_expansions: int = 16,
    ) -> DataFrame:
        """Leading-wildcard query terms: ``"*fix"`` expands to the top
        ``max_expansions`` dictionary terms sharing the SUFFIX (df DESC,
        term ASC, deterministic) and scores as ONE vote group — the
        mirror image of `search_prefix`, completing the wildcard pair.

        The naive plan (``term LIKE '%fix'``) cannot be pruned: every
        dictionary row must be tested. The scale design is the reversed
        dictionary (`_reversed_dict`): key the dictionary by
        reverse(term) once, and a suffix probe becomes
        ``rterm startswith reverse(suffix)`` — a range-prunable prefix
        scan over a table sorted for exactly that predicate. The postings
        scan that follows is partition-pruned to the expanded terms, the
        same contract as search_prefix.

        Beyond the reference's grammar (Gigablast has no wildcard); the
        expansion scores through the J2 vote-group machinery like a
        synonym set (`Synonyms.cpp:59` group semantics).
        """
        return self.search_wildcard(patterns, mode, k, max_expansions)

    def _wildcard_groups(
        self, patterns: list[str], max_expansions: int
    ) -> dict[str, list[tuple[str, float]]]:
        """Shared wildcard expander: trailing ``pre*`` probes the term
        dictionary (pushed-down StartsWith), leading ``*fix`` probes the
        reversed dictionary (`_reversed_dict`); anything else is a
        literal single-member group. Expansion order is (df DESC, term
        ASC), bounded by ``max_expansions`` per pattern."""
        groups: dict[str, list[tuple[str, float]]] = {}
        for pat in sorted(set(patterns)):
            if pat.endswith("*") and len(pat) > 1 and "*" not in pat[:-1]:
                pre = pat[:-1]
                rows = (
                    self._term_stats.filter(
                        F.col("term").startswith(pre)
                        & ~F.col("term").contains(" ")
                    )
                    .select("term", "df")
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions))
                    .collect()
                )
                groups[pat] = [(r["term"], 1.0) for r in rows]
            elif pat.startswith("*") and len(pat) > 1 and "*" not in pat[1:]:
                rpre = pat[1:][::-1]
                rows = (
                    self._reversed_dict()
                    .filter(F.col("rterm").startswith(rpre))
                    .select("term", "df")
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions))
                    .collect()
                )
                groups[pat] = [(r["term"], 1.0) for r in rows]
            else:
                groups[pat] = [(pat, 1.0)]
        return groups

    def search_wildcard(
        self,
        patterns: list[str],
        mode: str = "AND",
        k: int = 10,
        max_expansions: int = 16,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Unified wildcard serving: every pattern — trailing ``pre*``,
        leading ``*fix``, or a literal word — becomes one vote group, so
        mixed queries ("s* merge -vector") score with the same J2 group
        semantics as synonyms; '-term' exclusions apply as the standard
        anti-join, exactly like search_terms. ``search()`` routes here
        whenever the query string contains a wildcard, so signs and
        wildcards compose in the user-facing grammar."""
        groups = self._wildcard_groups(patterns, max_expansions)
        scored = self._vote_group_scores(groups, mode)
        if exclude_terms:
            ex_plan = self.plan_terms(exclude_terms)
            if not ex_plan.empty:
                ex_docs = self.decoded_postings(
                    [int(t) for t in ex_plan["term_id"]]
                ).select("doc_id").distinct()
                scored = scored.join(ex_docs, "doc_id", "left_anti")
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        )

    def search_fielded(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        field_col: str = "source",
        field_weight: float = 2.0,
    ) -> DataFrame:
        """BM25F field-weighted scoring (Robertson–Zaragoza): the body
        text and a metadata field score as ONE weighted term-frequency
        stream — tf̃ = tf_body + w·tf_field, dl̃ = dl_body + w·dl_field,
        avgdl̃ over the corpus, idf from the UNION document frequency
        (a doc matching only in the field still counts, and still
        matches under AND). This is the reference's per-hashgroup weight
        family (`Posdb.h` HASHGROUP_INTITLE / s_hashGroupWeights,
        `PosdbTable.cpp` applies them per posting): title hits outrank
        body hits because their occurrences are weighted INSIDE the
        saturation curve, not bolted on after.

        Plan shape: the field DICTIONARY (distinct ``field_col`` values)
        is collected once — bounded by field cardinality, the analog of
        the term dictionary; a deployment materializes it at build time.
        Field-side candidates come from a BROADCAST join of that tiny
        (value, term, tf) map against a column-pruned doc-store scan;
        body-side candidates are the usual partition-pruned postings
        decode. The two sides full-outer-join on (doc_id, term) — a
        shuffle bounded by candidate count, not corpus size — and per-doc
        dl̃ joins in from the same pruned doc-store scan. (A production
        build stores w·dl_field next to dl in the postings rows — the
        build already stores dl — which collapses that join; here it is
        derived so BM25F works on every existing index unchanged.)
        """
        from .index_build import doc_length_col

        w = float(field_weight)
        k1, b = self.params.k1, self.params.b
        uniq = sorted(set(query_terms))
        plan = self.plan_terms(uniq)
        docs = self.catalog.read_table("documents")
        # field dictionary: distinct values + per-value doc counts,
        # collected ONCE per (engine, field) — ONE map-side-combined agg,
        # cardinality-bounded, snapshot-bound like _plan_cache (a build
        # materializes this next to term_stats)
        if not hasattr(self, "_field_dicts"):
            self._field_dicts: dict[str, dict[str, int]] = {}
        if field_col not in self._field_dicts:
            self._field_dicts[field_col] = {
                r["_fv"]: r["n"]
                for r in docs.groupBy(F.col(field_col).alias("_fv"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        counts = self._field_dicts[field_col]
        fvals = list(counts)
        tmap: list[tuple[str, str, int]] = []
        dlt: dict[str, int] = {}
        for v in fvals:
            toks = self.tokenize_query(v or "")
            dlt[v] = len(toks)
            for t in uniq:
                c = toks.count(t)
                if c:
                    tmap.append((v, t, c))
        # per-doc dl-tilde: dl_body (from text, == the indexed dl) plus
        # w * dl_field; ONE column-pruned doc-store projection reused by
        # both the field-candidate join and the dl join
        docs_aux = docs.select(
            "doc_id",
            F.col(field_col).alias("_fv"),
            doc_length_col(self.tokenizer_mode)(F.col("text")).alias(
                "_dlb"
            ),
        )
        dlt_df = F.broadcast(
            self.spark.createDataFrame(
                [(v, int(n)) for v, n in dlt.items()], "_fv string, _dlt int"
            )
        )
        dl_side = docs_aux.join(dlt_df, "_fv").select(
            "doc_id",
            (F.col("_dlb") + F.lit(w) * F.col("_dlt")).alias("_dlf"),
        )
        # avgdl-tilde: avgdl_body (corpus stats) + w * mean field dl,
        # the latter from the cached per-value doc counts
        avg_dlt = (
            sum(counts[v] * dlt[v] for v in counts) / float(self.n_docs)
            if self.n_docs
            else 0.0
        )
        avgdlf = self.avgdl + w * avg_dlt
        # body side: partition-pruned postings decode
        if not plan.empty:
            body = self.decoded_postings(
                [int(t) for t in plan["term_id"]]
            ).join(
                F.broadcast(
                    self.spark.createDataFrame(
                        [
                            (int(r.term_id), r.term)
                            for r in plan.itertuples(index=False)
                        ],
                        "term_id long, term string",
                    )
                ),
                "term_id",
            ).select("doc_id", "term", F.col("tf").alias("_tfb"))
        else:
            body = self.spark.createDataFrame(
                [], "doc_id long, term string, _tfb int"
            )
        # field side: broadcast (value, term, tf) map into the doc store
        if tmap:
            fside = docs_aux.join(
                F.broadcast(
                    self.spark.createDataFrame(
                        tmap, "_fv string, term string, _tft int"
                    )
                ),
                "_fv",
            ).select("doc_id", "term", "_tft")
        else:
            fside = self.spark.createDataFrame(
                [], "doc_id long, term string, _tft int"
            )
        comb = (
            body.join(fside, ["doc_id", "term"], "full_outer")
            .select(
                "doc_id",
                "term",
                (
                    F.coalesce(F.col("_tfb"), F.lit(0)).cast("double")
                    + F.lit(w) * F.coalesce(F.col("_tft"), F.lit(0))
                ).alias("_tfc"),
            )
            # df/matched are defined on tf-tilde > 0: at w=0 a field-only
            # hit contributes nothing and must not count, so the operator
            # degenerates EXACTLY to plain BM25 (gated)
            .filter(F.col("_tfc") > 0)
        )
        # union df per term -> idf-tilde (n_terms rows, broadcast back)
        fdf = comb.groupBy("term").agg(
            F.countDistinct("doc_id").alias("_df")
        )
        idf = F.log(
            (F.lit(float(self.n_docs)) - F.col("_df") + 0.5)
            / (F.col("_df") + 0.5)
            + 1.0
        )
        scored = (
            comb.join(F.broadcast(fdf), "term")
            .join(dl_side, "doc_id")
            .select(
                "doc_id",
                (
                    idf
                    * (
                        F.col("_tfc")
                        * (k1 + 1.0)
                        / (
                            F.col("_tfc")
                            + k1
                            * (1.0 - b + b * F.col("_dlf") / F.lit(avgdlf))
                        )
                    )
                ).alias("_c"),
            )
            .groupBy("doc_id")
            .agg(
                F.sum("_c").alias("score"),
                F.count(F.lit(1)).cast("int").alias("matched"),
            )
        )
        if mode == "AND":
            scored = scored.filter(F.col("matched") == len(uniq))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))

    def fetch_docs(self, doc_ids: list[int]) -> DataFrame:
        """Cached-copy serving — the reference's PageGet flow (serve the
        stored document by docid; `PageGet.cpp` reads the title rec via
        Msg20/Msg22 by docid): a partition-pruned doc-store lookup
        returning every stored column for the requested ids, ordered
        doc_id ASC. The SERP's "cached" link, the snippet path's doc
        fetch, and any export-by-id all reduce to this one scan shape.

        Scale shape: an In(doc_id) predicate pushed to the doc-store
        parquet scan (plan-gated) — the page of ids is query-sized, so
        the filter is a literal list, no join, no shuffle beyond the
        final order of ≤len(doc_ids) rows.
        """
        ids = sorted({int(d) for d in doc_ids})
        return (
            self.catalog.read_table("documents")
            .filter(F.col("doc_id").isin(ids))
            .orderBy(F.asc("doc_id"))
        )

    def explain_terms(
        self,
        query_terms: list[str],
        wand_df_cutoff: int = 1_000_000,
    ) -> DataFrame:
        """Query-plan introspection — the reference's `&debug=1` query-info
        surface (PageResults debug dump of per-term termlist sizes;
        `Msg3a.cpp:1011` setTermFreqWeights is exactly this table) as a
        DataFrame an operator can join/log: per query term its dictionary
        row (present, df, idf) plus the query-level routing decision
        (``route`` exact|wand by search_auto's sum(df) ≤ cutoff rule and
        the ``sum_df`` that drove it).

        Costs ZERO Spark jobs when the terms are plan-cached (plan_terms
        memoizes dictionary rows, including confirmed misses) — the frame
        is built from driver-held plan metadata, so SERP handlers can
        attach it to every response for free. Absent terms appear with
        df=0 / idf NULL / present=false; sum_df counts present terms only
        (an absent term decodes nothing — same contract as routing).
        """
        plan = self.plan_terms(query_terms)
        by_term = (
            {
                str(r["term"]): (int(r["df"]), float(r["idf"]))
                for _, r in plan.iterrows()
            }
            if not plan.empty
            else {}
        )
        sum_df = sum(df for df, _ in by_term.values())
        route = "exact" if sum_df <= int(wand_df_cutoff) else "wand"
        rows = []
        for t in sorted(set(query_terms)):
            df_i, idf = by_term.get(t, (0, None))
            rows.append((t, t in by_term, df_i, idf, route, sum_df))
        return self.spark.createDataFrame(
            rows,
            "term string, present boolean, df long, idf double, "
            "route string, sum_df long",
        )

    def search_after(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        after: tuple[float, int] | None = None,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Cursor-based deep paging: page N+1 is the top-k of the ranking
        STRICTLY AFTER the cursor ``after`` = (score, doc_id) of page N's
        last row — the scale-correct pagination. The reference pages by
        over-fetching firstResultNum+docsToGet and slicing (`Msg40.cpp`
        docsToGet grows with the requested offset; our ``bm25_paging``
        mirrors that), which is O(offset + k) work per page; this is O(k)
        per page at ANY depth, because the cursor predicate
        (score, doc_id) < cursor filters BEFORE the top-k selection, so
        page 1000 costs the same one TakeOrderedAndProject as page 1.

        Sound ONLY because scores are bit-stable: `_aggregate_scores`
        folds contributions in canonical term order, so re-running the
        query reproduces page N's boundary score EXACTLY and the strict
        tuple comparison ((score < s0) OR (score = s0 AND doc_id > d0))
        resumes without skips or repeats. An engine with
        nondeterministic float accumulation cannot offer this operator.

        ``after=None`` is page 1 (identical to search_terms).
        """
        scored = self.score_terms(query_terms, mode, exclude_terms)
        if after is not None:
            s0, d0 = float(after[0]), int(after[1])
            scored = scored.filter(
                (F.col("score") < F.lit(s0))
                | (
                    (F.col("score") == F.lit(s0))
                    & (F.col("doc_id") > F.lit(d0))
                )
            )
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def search_relaxed(
        self,
        query_terms: list[str],
        k: int = 10,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """requireAllTerms=false serving (`Msg3a.cpp:124-126`: "all search
        results MUST contain the required query terms, OTHERWISE, such
        results are preferred, but the result set will contain docs that
        do not have all required query terms") — the relaxed half of the
        reference's rat parameter. Full-coverage docs form the top tier;
        partial matchers fill the remainder of the page, each tier
        ordered score DESC / doc_id ASC.

        ``phase`` = 'full' when the doc matches every query term PRESENT
        in the corpus (an absent term can match nothing under either
        mode — same contract as plan_terms everywhere else), else
        'partial'.

        Scale shape: ONE job — ordinary OR scoring with a two-key
        TakeOrderedAndProject ((is_full, score) DESC, doc_id ASC); no
        driver-side count-then-requery round trip, unlike the spell
        fallback (which must inspect the page to decide).
        """
        plan = self.plan_terms(query_terms)
        n_full = len(plan)
        scored = self.score_terms(query_terms, "OR", exclude_terms)
        is_full = F.col("matched") == F.lit(int(n_full))
        return (
            scored.withColumn(
                "phase",
                F.when(is_full, F.lit("full")).otherwise(F.lit("partial")),
            )
            .orderBy(
                F.desc(is_full.cast("int")),
                F.desc("score"),
                F.asc("doc_id"),
            )
            .limit(int(k))
            .select("doc_id", "score", "matched", "phase")
        )

    def search_fuzzy(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        max_edit: int = 1,
        max_expansions: int = 8,
        fuzzy_weight: float = 0.7,
    ) -> DataFrame:
        """Typo-tolerant search: each query term expands to the dictionary
        terms within Levenshtein distance ≤ ``max_edit`` and the expansion
        scores as ONE vote group through the J2 machinery
        (`_vote_group_scores`) — OR within the group, the query's AND/OR
        across groups, matched counts groups. The retrieval-side
        complement of the spell-assist surface (`Speller.cpp:169`
        getRecommendation walks edit neighbors of the typed word;
        search_with_suggestion requeries AFTER the fact — this matches
        THROUGH the typo in one query), and the edit-distance sibling of
        ``search_prefix``'s wildcard expansion.

        Expansion order: distance ASC (the exact term, if indexed, always
        leads), then df DESC, term ASC — deterministic. Member weight:
        1.0 at distance 0, ``fuzzy_weight`` otherwise (the derived-form
        damp, same shape as the morphology path's 0.9). A term whose
        neighborhood is empty behaves like an absent term (AND → empty
        page).

        Scale shape: expansion happens in the term DICTIONARY only — the
        length band |len − len(q)| ≤ max_edit pushes to the term_stats
        scan as two comparisons, levenshtein evaluates inside the band
        only, TakeOrderedAndProject collects ≤ max_expansions rows per
        term (plan metadata, the search_prefix contract). The postings
        scan stays partition-pruned to the expanded terms.
        """
        groups: dict[str, list[tuple[str, float]]] = {}
        for t in sorted(set(query_terms)):
            lev = F.levenshtein(F.col("term"), F.lit(t))
            rows = (
                self._term_stats.filter(
                    (F.length("term") >= len(t) - int(max_edit))
                    & (F.length("term") <= len(t) + int(max_edit))
                    & ~F.col("term").contains(" ")
                )
                .select("term", "df", lev.alias("lev"))
                .filter(F.col("lev") <= int(max_edit))
                .orderBy(F.asc("lev"), F.desc("df"), F.asc("term"))
                .limit(int(max_expansions))
                .collect()
            )
            groups[t] = [
                (r["term"], 1.0 if r["lev"] == 0 else float(fuzzy_weight))
                for r in rows
            ]
        return (
            self._vote_group_scores(groups, mode)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def complete_query(
        self, partial: str, k: int = 10, max_candidates: int = 32
    ) -> DataFrame:
        """Search-box query completion, context-aware: the LAST token of
        ``partial`` is the word being typed; it expands to dictionary
        words sharing that prefix and the completions are ranked by how
        many docs contain the completion TOGETHER with every already-typed
        context word — i.e. completions that keep the query answerable
        rank first, not merely globally-frequent words. With no context
        (single-token input) the rank is plain dictionary df.

        Companion to search_prefix (same dictionary expansion) and to the
        serving-integrated speller (`Speller.cpp:69` consults the unified
        dict in the result flow) — completion is the type-ahead half of
        that assist surface; the reference has no autocomplete endpoint,
        so this is beyond-reference like the wildcard operator.

        Scale shape: candidate expansion is a pushed-down StartsWith on
        the term DICTIONARY (tiny next to postings) +
        TakeOrderedAndProject, <= max_candidates rows to the driver (plan
        metadata, the search_prefix/plan_terms contract). Co-occurrence
        counting is ONE partition-pruned postings scan over context +
        candidate term_ids: context docs reduce via a map-side-combined
        (doc, n_ctx_terms) agg, candidate rows semi-join against them,
        then a <= max_candidates-group count. No corpus scan, no window,
        no Python beyond the shared Arrow decode.

        Output: (completion, n_docs, df) ordered n_docs DESC, df DESC,
        completion ASC, limited to k. Context words absent from the
        corpus -> empty (the AND contract); completions co-occurring with
        zero context docs are dropped.
        """
        out_schema = "completion string, n_docs long, df long"
        words = self.tokenize_query(partial)
        if not words:
            return self.spark.createDataFrame([], out_schema)
        prefix, context = words[-1], sorted(set(words[:-1]))
        cand = (
            self._term_stats.filter(
                F.col("term").startswith(prefix)
                & ~F.col("term").contains(" ")
            )
            .select("term", "term_id", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(max_candidates))
            .collect()
        )
        cand = [r for r in cand if r["term"] not in context]
        if not cand:
            return self.spark.createDataFrame([], out_schema)
        if not context:
            # no typed context: rank by dictionary df (n_docs == df)
            rows = [(r["term"], int(r["df"]), int(r["df"])) for r in cand]
            return (
                self.spark.createDataFrame(rows, out_schema)
                .orderBy(
                    F.desc("n_docs"), F.desc("df"), F.asc("completion")
                )
                .limit(int(k))
            )
        ctx_plan = self.plan_terms(context)
        if len(ctx_plan) < len(context):
            return self.spark.createDataFrame([], out_schema)
        ctx_ids = [int(t) for t in ctx_plan["term_id"]]
        cand_ids = [int(r["term_id"]) for r in cand]
        decoded = self.decoded_postings(sorted(set(ctx_ids + cand_ids)))
        ctx_docs = (
            decoded.filter(F.col("term_id").isin(ctx_ids))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nm"))
            .filter(F.col("nm") == len(ctx_ids))
            .select("doc_id")
        )
        counts = (
            decoded.filter(F.col("term_id").isin(cand_ids))
            .join(ctx_docs, "doc_id", "left_semi")
            .groupBy("term_id")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        meta = self.spark.createDataFrame(
            [(int(r["term_id"]), r["term"], int(r["df"])) for r in cand],
            "term_id long, completion string, df long",
        )
        return (
            counts.join(F.broadcast(meta), "term_id")
            .select(
                "completion",
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("df").cast("long").alias("df"),
            )
            .orderBy(F.desc("n_docs"), F.desc("df"), F.asc("completion"))
            .limit(int(k))
        )

    def search_near(
        self, w1: str, w2: str, slop: int = 3, k: int = 10
    ) -> DataFrame:
        """In-order sloppy phrase (NEAR): docs where ``w2`` occurs 1..slop
        token positions AFTER ``w1``, ranked by the ordinary two-term BM25
        AND score, with the observed minimum gap attached (slop=1 is the
        exact adjacent phrase). The sliding-window generalization the
        reference scores with (`PosdbTable.cpp:3404` works in exactly this
        in-order pair-distance space) surfaced as a MATCHING predicate
        instead of a rank bonus — the complement of search_proximity.

        Scale shape: same as phrase_docs — partition-pruned positional
        postings for the two terms only, ONE groupBy(doc_id) pivot, the
        gap scan as a JVM array lambda over the per-doc position arrays
        (O(tf1·tf2) per doc on in-memory ints; per-doc tfs are tiny), then
        the standard restricted scoring job. No corpus scan, no Python.
        """
        self._require_positions("search_near")
        if slop < 1:
            raise ValueError("slop must be >= 1")
        out_schema = "doc_id long, score double, matched int, min_gap int"
        plan = self.plan_terms([w1, w2])
        if len(plan) < len({w1, w2}):
            return self.spark.createDataFrame([], out_schema)
        tid = dict(zip(plan["term"], plan["term_id"]))
        decoded = self.decoded_postings(
            [int(t) for t in plan["term_id"]], include_positions=True
        )
        pivot = (
            decoded.groupBy("doc_id")
            .agg(
                F.max(
                    F.when(
                        F.col("term_id") == int(tid[w1]), F.col("positions")
                    )
                ).alias("p1"),
                F.max(
                    F.when(
                        F.col("term_id") == int(tid[w2]), F.col("positions")
                    )
                ).alias("p2"),
            )
            .filter(F.col("p1").isNotNull() & F.col("p2").isNotNull())
        )
        gaps = F.flatten(
            F.transform(
                F.col("p1"),
                lambda a: F.filter(
                    F.transform(F.col("p2"), lambda b: b - a),
                    lambda g: (g >= F.lit(1)) & (g <= F.lit(int(slop))),
                ),
            )
        )
        near = pivot.select(
            "doc_id", F.array_min(gaps).alias("min_gap")
        ).filter(F.col("min_gap").isNotNull())
        scored = self.score_terms(
            [w1, w2], "AND", filter_docs=near.select("doc_id")
        )
        return (
            scored.join(near, "doc_id")
            .select("doc_id", "score", "matched", "min_gap")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def search_query(
        self,
        query: str,
        k: int = 10,
        drop_stopwords: bool = False,
        stop_words: set[str] | None = None,
    ) -> DataFrame:
        """Full query-string grammar: quoted phrases, parens, OR/'|',
        '-' exclusion, '+' forced inclusion, field:value restriction
        (`Query.cpp:1229` setQWords; opcodes `Query.h:146-152`; field codes
        `Query.h:33-102`; signs `Query.h:191-193`; quotes `Query.h:219-226`).

        Semantics (mirroring the reference, which scores ALL query terms
        and lets the boolean structure constrain MATCHING,
        `PosdbTable.cpp:5408`): score = BM25 sum over every positive
        term/phrase word in the query (OR accumulation, canonical order);
        eligibility = the DNF of the boolean expression, each clause
        evaluated with semi/anti-join algebra (terms AND-chained, phrases
        by positional adjacency, fields as document-column equality).
        Returns (doc_id, score, matched) top-k; matched counts the scoring
        terms present in the doc.

        ``drop_stopwords`` enables the reference's query-side stopword
        dropping (`Query.h:136-143` IGNORE_DEFAULT): unforced plain
        stopword terms leave the query; ``+term`` (`Query.h:192`), quoted
        phrases, and fields always survive, and an all-stopword clause is
        answered as-is. ``stop_words`` overrides the default English set."""
        el, terms = self.query_eligibility(query, drop_stopwords, stop_words)
        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, matched int"
        )
        if el is None:
            return empty
        # UOR rank-blend (`Query.h:146-152` OP_UOR): a UOR's terms score as
        # ONE vote group (matched counts the group once), other scoring
        # terms stay singleton groups -- eligibility is unchanged (the DNF
        # treats UOR as OR)
        from ..functions.query_parser import parse_query, uor_groups

        ugroups = uor_groups(parse_query(query))
        if ugroups and terms:
            grouped: set[str] = set()
            vote: dict[str, list[tuple[str, float]]] = {}
            # only tokens that survived query_eligibility's term selection
            # may score: a stopword dropped by IGNORE_DEFAULT must not
            # re-enter through its UOR group (the raw parse tree still
            # contains it)
            eligible_toks = set(terms)
            for g in ugroups:
                members = sorted(
                    {
                        tok
                        for text in g
                        for tok in self.tokenize_query(text)
                    }
                    & (eligible_toks - grouped)
                )
                if members:
                    vote["\x01uor:" + " ".join(members)] = [
                        (m, 1.0) for m in members
                    ]
                    grouped.update(members)
            for t in terms:
                if t not in grouped:
                    vote[t] = [(t, 1.0)]
            scored = self._vote_group_scores(vote, mode="OR")
            return (
                el.join(scored, "doc_id", "left_outer")
                .select(
                    "doc_id",
                    F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
                    F.coalesce(F.col("matched"), F.lit(0))
                    .cast("int")
                    .alias("matched"),
                )
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        # eligibility without scoring terms still returns the doc at score
        # 0.0 / matched 0 (left-outer, NOT semi-join): a field-only query
        # ('lang:en') or a scoring-term-free clause ('... OR (lang:fr)')
        # must not silently drop its eligible docs (r2 ADVICE). Ties at
        # 0.0 break doc_id asc as everywhere else.
        if not terms:
            return (
                el.select(
                    "doc_id",
                    F.lit(0.0).alias("score"),
                    F.lit(0).cast("int").alias("matched"),
                )
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        scored = self.score_terms(terms, mode="OR")
        return (
            el.join(scored, "doc_id", "left_outer")
            .select(
                "doc_id",
                F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
                F.coalesce(F.col("matched"), F.lit(0)).cast("int").alias(
                    "matched"
                ),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def query_eligibility(
        self,
        query: str,
        drop_stopwords: bool = False,
        stop_words: set[str] | None = None,
    ) -> tuple[DataFrame | None, list[str]]:
        """Parse a query string and evaluate its boolean structure to the
        eligible doc_id set (DNF clauses via semi/anti-join algebra).

        Returns (eligible_docs | None, sorted scoring terms). The shared
        front half of search_query / search_facets / search_sorted."""
        from ..functions.query_parser import (
            drop_stopword_terms,
            parse_query,
            to_dnf,
            unwrap_forced,
        )

        clauses = to_dnf(parse_query(query))
        if drop_stopwords:
            if stop_words is None:
                from .text_analysis import LANG_MARKERS

                stop_words = set(LANG_MARKERS["en"]) | {"a", "an"}
            clauses = drop_stopword_terms(clauses, set(stop_words))
        scoring: set[str] = set()
        for cl in clauses:
            for negd, atom in cl:
                atom, _forced = unwrap_forced(atom)
                if not negd and atom[0] in ("term", "phrase"):
                    scoring.update(self.tokenize_query(atom[1]))
        eligible = None
        for cl in clauses:
            cd = self._clause_docs(cl)
            if cd is None:
                continue
            eligible = cd if eligible is None else eligible.unionByName(cd)
        if eligible is None:
            return None, sorted(scoring)
        return eligible.distinct(), sorted(scoring)

    def search_facets(
        self,
        query: str,
        facet_fields: list[str] | tuple[str, ...] = (),
        facet_ranges: dict[str, int] | None = None,
        top_n: int = 20,
        drop_stopwords: bool = False,
    ) -> DataFrame:
        """Faceted search (`gbfacetstr:`/`gbfacetint:` -- `Query.cpp:1787`
        hashes facet terms into the posting keys; we aggregate the doc-store
        columns instead): per-field value counts over ALL docs matching the
        query string, not just the top-k page.

        ``facet_fields`` are string-valued document columns; ``facet_ranges``
        maps a numeric column to a bucket width (gbfacetint range buckets:
        value -> floor(v/width)*width). Returns (facet_field, facet_value,
        n_docs), top_n values per field by count desc / value asc.

        Plan shape: one semi-join of the doc store against the eligible set,
        then one map-side-combined aggregation per facet; output cardinality
        is #distinct facet values, so the per-field top-n window is tiny."""
        el, _ = self.query_eligibility(query, drop_stopwords)
        empty = self.spark.createDataFrame(
            [], "facet_field string, facet_value string, n_docs long"
        )
        if el is None or (not facet_fields and not facet_ranges):
            return empty
        docs = self.catalog.read_table("documents")
        for fld in list(facet_fields) + list(facet_ranges or {}):
            if fld not in docs.columns:
                raise ValueError(
                    f"unknown facet field '{fld}' -- facetable fields are "
                    f"the documents columns {sorted(docs.columns)}"
                )
        docs = docs.join(el, "doc_id", "left_semi")
        pieces = []
        for fld in facet_fields:
            pieces.append(
                docs.groupBy(
                    F.lit(fld).alias("facet_field"),
                    F.col(fld).cast("string").alias("facet_value"),
                ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            )
        for fld, width in (facet_ranges or {}).items():
            bucket = (F.floor(F.col(fld) / F.lit(width)) * width).cast("long")
            pieces.append(
                docs.groupBy(
                    F.lit(f"{fld}:{width}").alias("facet_field"),
                    bucket.cast("string").alias("facet_value"),
                ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            )
        from pyspark.sql import Window

        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        w = Window.partitionBy("facet_field").orderBy(
            F.desc("n_docs"), F.asc("facet_value")
        )
        return (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_n)
            .select("facet_field", "facet_value", "n_docs")
        )

    def search_sorted(
        self,
        query: str,
        sort_field: str,
        ascending: bool = False,
        k: int = 10,
        min_filters: dict[str, float] | None = None,
        max_filters: dict[str, float] | None = None,
    ) -> DataFrame:
        """Query-time field sort with range constraints (`gbsortby:`/
        `gbsortbyint:` `Query.cpp:1526-1692`; `gbmin:`/`gbmax:` range
        constraints on the sort termlist `Query.cpp:1668-1686`): matching
        docs ordered by a document column instead of relevance.

        Range filters apply to doc-store numeric columns BEFORE the sort, so
        Spark executes scan -> semi-join -> filter -> TakeOrderedAndProject
        (per-partition partial top-k, tiny final merge -- no global sort).
        Returns (doc_id, <sort_field>) top-k, doc_id asc tie-break."""
        el, _ = self.query_eligibility(query)
        docs = self.catalog.read_table("documents")
        if sort_field not in docs.columns:
            raise ValueError(
                f"unknown sort field '{sort_field}' -- sortable fields are "
                f"the documents columns {sorted(docs.columns)}"
            )
        if el is None:
            # empty result with the REAL column types (a string sort field
            # must not come back long-typed just because nothing matched)
            return docs.select("doc_id", sort_field).limit(0)
        docs = docs.join(el, "doc_id", "left_semi")
        for fld, v in (min_filters or {}).items():
            docs = docs.filter(F.col(fld) >= v)
        for fld, v in (max_filters or {}).items():
            docs = docs.filter(F.col(fld) <= v)
        key = F.asc(sort_field) if ascending else F.desc(sort_field)
        return (
            docs.select("doc_id", sort_field)
            .orderBy(key, F.asc("doc_id"))
            .limit(k)
        )

    def _clause_docs(self, clause) -> DataFrame | None:
        """One DNF clause -> doc_id frame via semi/anti-join algebra
        (J3/O2/O3; boolean_docs generalized with phrase + field atoms)."""
        from ..functions.query_parser import unwrap_forced

        pos, neg = [], []
        for negd, atom in clause:
            atom, _forced = unwrap_forced(atom)
            kind = atom[0]
            if kind == "term":
                words = self.tokenize_query(atom[1])
                if not words:
                    continue
                f = None
                for w in words:
                    td = self.term_docs(w)
                    f = td if f is None else f.join(td, "doc_id", "left_semi")
            elif kind == "phrase":
                words = self.tokenize_query(atom[1])
                if not words:
                    continue
                f = (
                    self.term_docs(words[0])
                    if len(words) == 1
                    else self._phrase_hits(words)
                )
            else:  # field:value -> document-column equality (F5 analog)
                name, value = atom[1], atom[2]
                docs = self.catalog.read_table("documents")
                if name not in docs.columns:
                    raise ValueError(
                        f"unknown field '{name}:' -- queryable fields are "
                        f"the documents columns {sorted(docs.columns)}"
                    )
                f = docs.filter(
                    F.col(name).cast("string") == value
                ).select("doc_id")
            (neg if negd else pos).append(f)
        if not pos:
            return None
        frame = pos[0]
        for f in pos[1:]:
            frame = frame.join(f, "doc_id", "left_semi")
        for f in neg:
            frame = frame.join(f, "doc_id", "left_anti")
        return frame

    def _phrase_hits(
        self,
        words: list[str],
        use_bigrams: bool = True,
        restrict: DataFrame | None = None,
    ) -> DataFrame:
        """Docs containing the exact phrase; verified over the much-shorter
        bigram termlists when the index carries them (SURVEY.md X3),
        positional unigram intersection otherwise. Results identical.
        ``restrict`` narrows verification to a candidate doc set (see
        phrase_docs)."""
        if use_bigrams and len(words) >= 2:
            bi = [f"{a} {b}" for a, b in zip(words, words[1:])]
            bplan = self.plan_terms(bi)
            if len(bplan) == len(set(bi)):
                return self.phrase_docs(bi, restrict=restrict)
        return self.phrase_docs(words, restrict=restrict)

    # ------------------------------------------------------------------
    def _contributions(self, plan: pd.DataFrame) -> DataFrame:
        """(term, doc_id, contrib) with contrib = idf * tf_norm, JVM-side."""
        term_ids = [int(t) for t in plan["term_id"]]
        decoded = self.decoded_postings(term_ids)
        meta = self.spark.createDataFrame(
            plan[["term_id", "term", "idf"]]
        )
        k1, b = self.params.k1, self.params.b
        from .hot_cache import tf_norm_col

        return (
            decoded.join(F.broadcast(meta), "term_id")
            .withColumn(
                "contrib",
                F.col("idf")
                * tf_norm_col(F.col("tf"), F.col("dl"), k1, b, self.avgdl),
            )
            .select("doc_id", "term", "contrib")
        )

    # ------------------------------------------------------------------
    def phrase_docs(
        self, phrase_terms: list[str], restrict: DataFrame | None = None
    ) -> DataFrame:
        """Docs containing the exact phrase (positional adjacency).

        Reference: quoted phrases are verified by positional containment
        (`Query.h:219-226`, `Matches.cpp:252`; SURVEY.md O5). Declarative
        re-expression: for phrase slot i with term t_i, emit
        (doc_id, slot=i, adj_pos = pos - i) from the positional postings;
        a doc matches iff some adj_pos has ALL slots present --
        ``groupBy(doc_id, adj_pos) having count(distinct slot) = n``.
        Handles repeated terms in the phrase naturally (slots are distinct).
        Returns a (doc_id) DataFrame.

        ``restrict`` (a small (doc_id, ...) DataFrame, e.g. a WAND
        candidate page) narrows verification to those docs via a broadcast
        semi-join BEFORE position explode + adjacency grouping — at scale
        the termlist of a common word is huge, but the candidate page is
        O(k), so the verify shuffles candidate positions only.
        """
        n = len(phrase_terms)
        if n == 0:
            return self.spark.createDataFrame([], "doc_id long")
        plan = self.plan_terms(phrase_terms)
        if len(plan) < len(set(phrase_terms)):
            return self.spark.createDataFrame([], "doc_id long")
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        decoded = self.decoded_postings(
            [int(t) for t in plan["term_id"]], include_positions=True
        )
        if restrict is not None:
            decoded = decoded.join(
                F.broadcast(restrict.select("doc_id")), "doc_id", "left_semi"
            )
        decoded = decoded.select(
            "term_id", "doc_id", F.explode("positions").alias("pos")
        )
        slot_map = F.array(
            *[
                F.struct(
                    F.lit(int(tid_of[t])).alias("tid"), F.lit(i).alias("slot")
                )
                for i, t in enumerate(phrase_terms)
            ]
        )
        slotted = (
            decoded.withColumn(
                "slots",
                F.filter(slot_map, lambda s: s["tid"] == F.col("term_id")),
            )
            .select(
                "doc_id",
                F.explode("slots").alias("s"),
                F.col("pos"),
            )
            .select(
                "doc_id",
                F.col("s.slot").alias("slot"),
                (F.col("pos") - F.col("s.slot")).alias("adj_pos"),
            )
        )
        return (
            slotted.groupBy("doc_id", "adj_pos")
            .agg(F.countDistinct("slot").alias("n_slots"))
            .filter(F.col("n_slots") == n)
            .select("doc_id")
            .distinct()
        )

    def search_phrase(
        self, phrase_terms: list[str], k: int = 10, use_bigrams: bool = True
    ) -> DataFrame:
        """Quoted-phrase query with BM25 ranking: docs must contain the exact
        phrase (positional adjacency, O5); scoring is the ordinary BM25 sum
        over the phrase's distinct terms -- quoted terms keep normal scores
        in the reference too, the quotes only constrain matching
        (`Query.h:219-226`).

        When the index carries bigram terms (IndexConfig.bigrams; SURVEY.md
        X3), adjacency is verified over the much-shorter bigram termlists
        ("t_i t_{i+1}" at slot i -- positions are first-word ordinals, so
        the same slot machinery applies); otherwise it falls back to
        positional intersection of the unigram lists. Results identical.
        """
        terms = sorted(set(phrase_terms))
        plan = self.plan_terms(terms)
        if plan.empty or len(plan) < len(terms):
            return self.spark.createDataFrame(
                [], "doc_id long, score double, matched int"
            )
        scored = self._aggregate_scores(
            self._contributions(plan), list(plan["term"])
        ).filter(
            F.col("matched") == len(plan)
        )
        hits = self._phrase_hits(phrase_terms, use_bigrams)
        return (
            scored.join(hits, "doc_id", "left_semi")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def term_docs(self, term: str) -> DataFrame:
        """Distinct doc_ids containing ``term`` (one termlist scan)."""
        plan = self.plan_terms([term])
        if plan.empty:
            return self.spark.createDataFrame([], "doc_id long")
        return (
            self.decoded_postings([int(plan["term_id"].iloc[0])])
            .select("doc_id")
            .distinct()
        )

    def boolean_docs(self, dnf: list[list[str]]) -> DataFrame:
        """Boolean retrieval in disjunctive normal form: OR of AND-clauses.

        Reference: boolean grammar evaluated per-doc over termlist bit
        vectors (`PosdbTable.cpp:5408` makeDocIdVoteBufForBoolQuery,
        `Expression::isTruth`; SURVEY.md J3/O2). Spark re-expression: each
        AND clause = chain of semi-joins on doc_id; OR = union + distinct.
        A '-term' inside a clause is an anti-join (O3).
        """
        clause_frames = []
        for clause in dnf:
            pos = [t for t in clause if not t.startswith("-")]
            neg = [t[1:] for t in clause if t.startswith("-")]
            if not pos:
                continue
            frame = self.term_docs(pos[0])
            for t in pos[1:]:
                frame = frame.join(self.term_docs(t), "doc_id", "left_semi")
            for t in neg:
                frame = frame.join(self.term_docs(t), "doc_id", "left_anti")
            clause_frames.append(frame)
        if not clause_frames:
            return self.spark.createDataFrame([], "doc_id long")
        out = clause_frames[0]
        for f in clause_frames[1:]:
            out = out.unionByName(f)
        return out.distinct()

    def _aggregate_scores(
        self, contrib: DataFrame, terms: list[str] | None = None
    ) -> DataFrame:
        """Canonical-order float64 sum per doc: contributions added in term-
        string-ascending order (bit-stable across partitionings).

        With the query's term list known (always, in practice) this is a
        PIVOTED hash aggregation -- one conditional-sum column per term,
        then a fixed-order fold -- which map-side partial-aggregates and is
        ~10x cheaper at scale than the collect_list+array_sort fold (kept as
        the fallback). The add sequence is identical: 0.0 + c_t1 + c_t2 ...
        skipping absent terms, terms sorted ascending."""
        if terms:
            ts = sorted(set(terms))
            aggs = [
                F.sum(F.when(F.col("term") == t, F.col("contrib"))).alias(
                    f"_c{i}"
                )
                for i, t in enumerate(ts)
            ]
            g = contrib.groupBy("doc_id").agg(
                *aggs, F.count(F.lit(1)).cast("int").alias("matched")
            )
            # linear fold (see _vote_group_scores): when/otherwise
            # doubles the tree per term
            score = F.lit(0.0)
            for i in range(len(ts)):
                score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
            return g.select("doc_id", score.alias("score"), "matched")
        return contrib.groupBy("doc_id").agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(term, contrib))), "
                "cast(0.0 as double), (acc, x) -> acc + x.contrib)"
            ).alias("score"),
            F.count(F.lit(1)).cast("int").alias("matched"),
        )
