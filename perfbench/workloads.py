"""The serve and churn workloads: set-up, the measured loop, the answer
checks and, in a traced run, the per-layer split.

Both workloads run one closed-loop client (this process) against Spark
``local[nproc]`` and drive only public entry points of the package.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators import updates, wand
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import SCHEMA

import check
import inputs
import spans

#: the served index: ascii tokenizer, positions stored, hot-term cache on
HOT_CACHE_K = 64
#: serve: a traced run times at least this many single-query requests, so
#: that ten samples lie beyond p90, unless its loop has run this long (the
#: cap keeps a traced run on a slow host within the run time limit)
MIN_SINGLES_TRACED = 100
TRACED_LOOP_CAP_S = 80
#: churn: compaction fires when the live segment count reaches this, which
#: is after every applied delta; a run applies at least MIN_CYCLES deltas
#: (one delta and one compaction take about 15 s of a run's budget here)
COMPACT_AT = 2
MIN_CYCLES = 1
#: traced runs split this many exact requests into scan / score / top-k
#: self times, and pair this many WAND requests with the exact path
DECOMPOSE = 2
WAND_PAIRED = 2
HOT_MIN_DF_FRAC = IndexConfig().hot_cache_min_df_frac
#: serve's engine warm-up in set-up: an exact AND, an OR with an exclusion
#: and a hot term
WARM_UP = [inputs.Request("search", ["index", "spark"], "AND", 10),
           inputs.Request("search", ["merge", "query"], "OR", 10, ["shard"]),
           inputs.Request("hot", ["the"], "AND", 10)]


def index_config() -> IndexConfig:
    return IndexConfig(tokenizer_mode="ascii", store_positions=True, hot_cache_k=HOT_CACHE_K)


def wand_cutoff(n_docs: int) -> int:
    """WAND's small-df cutoff scaled from its default (100k) at a 200k-turn
    corpus to this corpus, so stopword-only conjunctions still take the
    two-phase path and rarer ones the single-job path."""
    return n_docs // 2


def hot_min_df(n_docs: int) -> int:
    return max(2, int(n_docs * HOT_MIN_DF_FRAC))


class SpanCatalog(Catalog):
    """Catalog whose table writes during ``build_index`` open the build
    spans: documents, the corpus-stats job between the documents and
    postings writes, postings, term_stats."""

    PHASES = {"documents": "build.docs", "postings": "build.postings",
              "term_stats": "build.term_stats"}

    def __init__(self, spark, warehouse: str, tracer: spans.Tracer):
        super().__init__(spark, warehouse)
        self.tracer = tracer
        self._stats = None

    def write_table(self, df, name, *args, **kwargs):
        if self._stats is not None:
            self._stats.__exit__(None, None, None)
            self._stats = None
        phase = self.PHASES.get(name)
        if phase is None:
            return super().write_table(df, name, *args, **kwargs)
        with self.tracer.span(phase):
            super().write_table(df, name, *args, **kwargs)
        if name == "documents":
            self._stats = self.tracer.span("build.stats")
            self._stats.__enter__()


@dataclass
class Done:
    """One executed request."""

    req: inputs.Request
    latency: float
    phase: str  # "serve", or "read" (churn, after a delta or a compaction)
    plan: spans.Span | None = None
    span: spans.Span | None = None
    rows: list | None = None
    #: every term was planned before by the same engine
    plan_hit: bool = False


@dataclass
class Churn:
    live: pd.DataFrame
    index: object
    cycle: int = 0
    update_spans: list = field(default_factory=list)
    #: compactions that fired
    compact_spans: list = field(default_factory=list)
    delta_bytes: int = 0
    segments_max: int = 1
    tombstones: list = field(default_factory=list)


@dataclass
class Run:
    """State of one benchmark run. A workload sets ``e2e["setup_s"]`` to
    its set-up time (build and warm-up); the caller adds session start."""

    spark: object
    tracer: spans.Tracer
    run_dir: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    done: list = field(default_factory=list)
    #: traced only: (scan, score, top-k) seconds per decomposed request
    decomposed: list = field(default_factory=list)
    #: traced only: (Done, exact span) per WAND request paired with exact
    wand_pairs: list = field(default_factory=list)
    churn: Churn | None = None
    #: terms each engine has planned so far
    planned: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def materialize(run: Run, rows: pd.DataFrame):
    """Transcript rows -> (Spark DataFrame with doc_id, the same rows with
    doc_id in pandas). Not timed."""
    sdf = transcripts_to_docs(run.spark.createDataFrame(rows, schema=SCHEMA))
    return sdf, sdf.toPandas()


def table_bytes(cat: Catalog) -> dict[str, int]:
    """On-disk bytes of each table's live snapshot."""
    out = {}
    for name in sorted(os.listdir(cat.warehouse)):
        total = 0
        for d in cat.data_dirs(name):
            for root, _dirs, files in os.walk(d):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        out[name] = total
    return out


def check_stats(run: Run, cat: Catalog, index, what: str) -> None:
    ts = cat.read_table("term_stats").select("term", "df", "cf").toPandas()
    cs = cat.read_table("corpus_stats").collect()[0].asDict()
    bad = check.stats_mismatches(index, ts, cs)
    run.outcome(bad == 0, f"{what}: {bad} term/corpus statistics differ")


def build(run: Run, docs) -> tuple[Catalog, float]:
    """Build the index into a fresh warehouse; returns (catalog, seconds)."""
    wh = os.path.join(run.run_dir, "warehouse")
    with run.tracer.span("setup.build"):
        t0 = time.perf_counter()
        build_index(run.spark, SpanCatalog(run.spark, wh, run.tracer), docs, index_config())
        build_s = time.perf_counter() - t0
    return Catalog(run.spark, wh), build_s


def check_build(run: Run, cat: Catalog, live: pd.DataFrame, index, build_s: float) -> None:
    """Build statistics against the oracle, and the build's end-to-end
    numbers (not timed)."""
    check_stats(run, cat, index, "build")
    run.info["build_s"] = build_s
    run.e2e["build_turns_per_s"] = len(live) / build_s
    text_bytes = sum(len(t.encode()) for t in live["text"] if t)
    sizes = table_bytes(cat)
    run.e2e["index_bytes_per_text_byte"] = sum(sizes.values()) / text_bytes
    if run.traced:
        with run.tracer.span("inspect"):
            codec_layers(run, cat, sizes)


def codec_layers(run: Run, cat: Catalog, sizes: dict[str, int]) -> None:
    cols = ["doc_ids", "tfs", "dls", "positions"]
    row = cat.read_table("postings").agg(
        F.sum("n_docs").alias("n"), *[F.sum(F.length(c)).alias(c) for c in cols]
    ).collect()[0]
    for c, name in zip(cols, ["doc_id", "tf", "dl", "position"]):
        run.layers[f"codec.{name}_bytes_per_posting"] = int(row[c]) / int(row["n"])
    run.layers["catalog.postings_bytes"] = sizes["postings"]
    run.layers["catalog.documents_bytes"] = sizes["documents"]


# ---------------------------------------------------------------------------
# requests
# ---------------------------------------------------------------------------


def execute(eng: SearchEngine, req: inputs.Request, cutoff: int):
    if req.kind in ("search", "hot"):
        return eng.search(req.query, req.mode, req.k).collect()
    if req.kind == "wand":
        return wand.wand_search(
            eng, req.terms, req.mode, req.k, small_df_cutoff=cutoff
        ).collect()
    queries = [
        {"query_id": f"q{i}", "terms": t, "mode": m, "k": k}
        for i, (t, m, k) in enumerate(req.batch)
    ]
    return eng.search_many(queries).collect()


def send(run: Run, eng: SearchEngine, req: inputs.Request, cutoff: int, phase: str) -> Done:
    """Time one request. In a traced run the plan lookup is its own span;
    the latency covers both."""
    seen = run.planned.setdefault(eng, set())
    d = Done(req, 0.0, phase, plan_hit=req.all_terms() <= seen)
    seen |= req.all_terms()
    t0 = time.perf_counter()
    try:
        if run.traced:
            with run.tracer.span("plan") as d.plan:
                d.plan.attrs["df"] = int(eng.plan_terms(sorted(req.all_terms()))["df"].sum())
        with run.tracer.span("req." + req.kind) as d.span:
            d.rows = execute(eng, req, cutoff)
    except Exception:  # a failed request is counted, the run goes on
        traceback.print_exc()
    d.latency = time.perf_counter() - t0
    run.done.append(d)
    return d


def split(run: Run, eng: SearchEngine, done: list[Done]) -> None:
    """Traced runs only: the first exact requests split into self times,
    and the first WAND requests' pruning counts and exact-path time on the
    same terms, on the engine that served them."""
    for d in done:
        if d.rows is None:
            continue
        if d.req.kind == "search" and len(run.decomposed) < DECOMPOSE:
            run.decomposed.append(decompose(run, eng, d.req))
        if d.req.kind == "wand" and len(run.wand_pairs) < WAND_PAIRED:
            with run.tracer.span("wand.stats") as sp:
                sp.attrs.update(wand.pruning_stats(eng, d.req.terms, d.req.mode))
            with run.tracer.span("wand.exact") as sp:
                sp.attrs["rows"] = eng.search_terms(d.req.terms, d.req.mode, d.req.k).collect()
            run.wand_pairs.append((d, sp))


def decompose(run: Run, eng: SearchEngine, req: inputs.Request) -> tuple[float, float, float]:
    """The request's work three ways: decode to a noop sink, decode and
    score to a noop sink, and the whole top-k with its collect. Each is
    timed twice and the faster kept; differences give the self times."""
    plan = eng.plan_terms(req.terms)
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    steps = {
        "scan": lambda: noop(eng.decoded_postings([int(t) for t in plan["term_id"]])),
        "score": lambda: noop(eng.score_terms(req.terms, req.mode, req.exclude or None)),
        "topk": lambda: eng.search_terms(req.terms, req.mode, req.k, req.exclude or None).collect(),
    }
    best = {}
    for name, step in steps.items():
        walls = []
        for _ in range(2):
            with run.tracer.span("decomp." + name) as sp:
                step()
            walls.append(sp.wall)
        best[name] = min(walls)
    return best["scan"], best["score"], best["topk"]


def check_requests(run: Run, done: list[Done], index) -> None:
    """Compare every executed request with the oracle (not timed)."""
    for d in done:
        req = d.req
        if d.rows is None:
            run.outcome(False, f"{req.kind} {req.query!r} raised")
        elif req.kind == "batch":
            got = check.batch_topk(d.rows)
            for i, (t, m, k) in enumerate(req.batch):
                want = check.expected(index, t, m, k)
                run.outcome(got.get(f"q{i}", []) == want, f"batch {t} {m} k={k}")
        else:
            want = check.expected(index, req.terms, req.mode, req.k, req.exclude)
            run.outcome(check.rows_topk(d.rows) == want,
                        f"{req.kind} {req.query!r} {req.mode} k={req.k}")
    for d, sp in run.wand_pairs:
        if any(d is x for x in done):
            want = check.expected(index, d.req.terms, d.req.mode, d.req.k)
            run.outcome(check.rows_topk(sp.attrs["rows"]) == want, f"exact pair {d.req.terms}")


# ---------------------------------------------------------------------------
# the churn update cycle
# ---------------------------------------------------------------------------


def update_cycle(run: Run, cat: Catalog, reads: tuple[list, list]) -> None:
    """Apply one seeded delta, run ``reads[0]`` on a fresh engine, let the
    compaction policy fire, then run ``reads[1]`` on a fresh engine."""
    st = run.churn
    n_new = inputs.DELTA_REPLACE + inputs.DELTA_NEW
    _, fresh = materialize(run, inputs.fresh_turns(run.seed, st.cycle * n_new, n_new))
    delta = inputs.churn_delta(run.seed, st.cycle, st.live, fresh)
    ups, _ = materialize(run, delta.upserts[list(SCHEMA.names)])
    dels = run.spark.createDataFrame(pd.DataFrame({"doc_id": delta.delete_ids.astype("int64")}))
    st.delta_bytes += sum(len(t.encode()) for t in delta.upserts["text"] if t)

    with run.tracer.span("update.apply") as sp:
        updates.apply_updates(run.spark, cat, ups, dels, config=index_config())
    st.update_spans.append(sp)
    st.live = inputs.apply_delta(st.live, delta)
    st.index = check.oracle_index(st.live)
    check_stats(run, cat, st.index, f"update {st.cycle}")
    cutoff = wand_cutoff(st.index.n_docs)
    first = len(run.done)
    eng = SearchEngine(run.spark, cat, tokenizer_mode=check.TOKENIZER)
    for req in reads[0]:
        send(run, eng, req, cutoff, "read")
    if run.traced:
        split(run, eng, run.done[first:])
        meta = cat.read_table("index_meta").collect()[0]
        st.segments_max = max(st.segments_max, int(meta["max_seg"]) + 1)
        st.tombstones.append(cat.read_table("tombstones").count())
    with run.tracer.span("compact") as sp:
        fired = updates.maybe_compact(run.spark, cat, COMPACT_AT)
    if fired:
        st.compact_spans.append(sp)
        check_stats(run, cat, st.index, f"compaction {st.cycle}")
        eng = SearchEngine(run.spark, cat, tokenizer_mode=check.TOKENIZER)
        for req in reads[1]:
            send(run, eng, req, cutoff, "read")
    check_requests(run, run.done[first:], st.index)
    st.cycle += 1


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def serve(run: Run, docs, live: pd.DataFrame, index) -> None:
    """Distinct requests against one index built in set-up: search strings,
    single stopwords, WAND conjunctions and search_many batches."""
    t0 = time.perf_counter()
    cat, build_s = build(run, docs)
    eng = SearchEngine(run.spark, cat, tokenizer_mode=check.TOKENIZER)
    with run.tracer.span("warmup"):
        for req in WARM_UP:
            execute(eng, req, wand_cutoff(index.n_docs))
    run.e2e["setup_s"] = time.perf_counter() - t0
    run.planned[eng] = set().union(*(r.all_terms() for r in WARM_UP))
    check_build(run, cat, live, index, build_s)

    cutoff = wand_cutoff(index.n_docs)
    start = time.perf_counter()
    for req in inputs.serve_stream(run.seed, index.df):
        elapsed = time.perf_counter() - start
        singles = sum(1 for d in run.done if d.req.kind != "batch")
        if elapsed >= run.seconds and (
            not run.traced or singles >= MIN_SINGLES_TRACED or elapsed >= TRACED_LOOP_CAP_S
        ):
            break
        send(run, eng, req, cutoff, "serve")
    done = list(run.done)
    if run.traced:
        split(run, eng, done)
    check_requests(run, done, index)

    singles = [d.latency for d in done if d.req.kind != "batch"]
    batches = [d for d in done if d.req.kind == "batch"]
    run.e2e["query_p50_s"] = check.percentile(singles, 0.5)
    run.info["latency"] = latency_info(singles)
    run.info["batch_qps"] = batch_qps(batches)
    run.info["shares"] = inputs.stream_shares(
        [d.req for d in done], [d.plan_hit for d in done], index.df,
        hot_min_df(index.n_docs), cutoff)


def churn(run: Run, docs, live: pd.DataFrame, index) -> None:
    """Cycles of seeded deltas (replaced turns, new turns, deletes), each
    followed by reads on a fresh engine and by the compaction policy."""
    # every churn read runs on a fresh engine, so set-up warms none up
    t0 = time.perf_counter()
    cat, build_s = build(run, docs)
    run.e2e["setup_s"] = time.perf_counter() - t0
    check_build(run, cat, live, index, build_s)

    run.churn = st = Churn(live, index)
    start = time.perf_counter()
    while st.cycle < MIN_CYCLES or time.perf_counter() - start < run.seconds:
        update_cycle(run, cat, inputs.churn_reads(run.seed, st.cycle, st.index.df))
    reads = [d for d in run.done if d.phase == "read"]
    run.e2e["query_p50_s"] = check.percentile([d.latency for d in reads], 0.5)
    run.info["latency"] = latency_info([d.latency for d in reads])
    run.info["update_p50_s"] = check.percentile([s.wall for s in st.update_spans], 0.5)
    run.info["compact_s"] = check.percentile([s.wall for s in st.compact_spans], 0.5)
    run.info["shares"] = inputs.stream_shares(
        [d.req for d in reads], [d.plan_hit for d in reads], st.index.df,
        hot_min_df(st.index.n_docs), wand_cutoff(st.index.n_docs))
    if len(st.compact_spans) < MIN_CYCLES:
        run.outcome(False, f"compaction fired {len(st.compact_spans)} times")


WORKLOADS = {"serve": serve, "churn": churn}


def latency_info(samples: list[float]) -> dict:
    """Median and the highest of p90/p75 with ten samples beyond it."""
    out = {"n": len(samples), "p50_s": check.percentile(samples, 0.5)}
    for q in (0.9, 0.75):
        v = check.percentile(samples, q)
        if v is not None:
            out[f"p{int(q * 100)}_s"] = v
            break
    return out


def batch_qps(batches: list[Done]) -> float | None:
    t = sum(d.latency for d in batches)
    return sum(len(d.req.batch) for d in batches) / t if t else None


# ---------------------------------------------------------------------------
# per-layer split (traced runs, after the session has stopped)
# ---------------------------------------------------------------------------


def per_layer(run: Run, stats: dict[str, spans.GroupStats]) -> dict[str, float]:
    tr = run.tracer
    g = lambda sp: stats.get(sp.group, spans.GroupStats())  # noqa: E731
    p50 = lambda xs: check.percentile(list(xs), 0.5) or 0.0  # noqa: E731

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    out = dict(run.layers)
    for phase in ("docs", "stats", "postings", "term_stats"):
        out[f"build.{phase}_s"] = sum(s.wall for s in tr.named(f"build.{phase}"))
    b = spans.merged(stats, tr.named("build.postings"))
    out.update({
        "build.encode_task_s": b.map_run_s, "build.merge_task_s": b.reduce_run_s,
        "build.python_s": b.python_s, "build.shuffle_bytes": b.shuffle_write_bytes,
        "build.spill_bytes": b.spill_bytes, "build.gc_s": b.gc_s, "build.jobs": b.jobs,
    })

    plans = tr.named("plan")
    out["query.plan_s"] = p50(s.wall for s in plans)
    out["query.plan_jobs"] = mean(g(s).jobs for s in plans)
    out["query.plan_cache_hit_ratio"] = mean(g(s).jobs == 0 for s in plans)
    ok = [d for d in run.done if d.span is not None]
    singles = [d for d in ok if d.req.kind in ("search", "hot")]
    exact = [d for d in singles if g(d.span).python_stages > 0]
    hot = [d for d in singles if g(d.span).python_stages == 0]
    ge = [g(d.span) for d in exact]
    out.update({
        "query.scan_decode_s": p50(s for s, _, _ in run.decomposed),
        "query.score_s": p50(c - s for s, c, _ in run.decomposed),
        "query.topk_collect_s": p50(t - c for _, c, t in run.decomposed),
        "query.jobs_per_request": mean(x.jobs for x in ge),
        "query.tasks_per_request": mean(x.tasks for x in ge),
        "query.scan_bytes": mean(x.input_bytes for x in ge),
        "query.postings_decoded": mean(d.plan.attrs["df"] for d in exact),
        "query.shuffle_bytes": mean(x.shuffle_write_bytes for x in ge),
        "query.python_s": p50(x.python_s for x in ge),
        "query.python_start_s": p50(x.python_start_s for x in ge),
        "query.cpu_to_run_ratio": sum(x.cpu_s for x in ge) / max(1e-9, sum(x.run_s for x in ge)),
        "query.unstaged_s": p50(spans.unstaged(stats, d.span) for d in exact),
        "hot.p50_s": p50(d.latency for d in hot),
        "hot.share": len(hot) / max(1, len(singles)),
    })

    wands = [d for d in ok if d.req.kind == "wand"]
    ws = tr.named("wand.stats")
    total = sum(s.attrs["groups_total"] for s in ws)
    surviving = sum(s.attrs["groups_surviving"] for s in ws)
    out.update({
        "wand.p50_s": p50(d.latency for d in wands),
        "wand.jobs_per_request": mean(g(d.span).jobs for d in wands),
        "wand.groups_total": total / max(1, len(ws)),
        "wand.groups_surviving": surviving / max(1, len(ws)),
        "wand.prune_ratio": 1.0 - surviving / total if total else 0.0,
        "wand.exact_ratio": p50(d.latency for d, _ in run.wand_pairs)
        / max(1e-9, p50(sp.wall for _, sp in run.wand_pairs)),
    })

    batches = [d for d in ok if d.req.kind == "batch"]
    out.update({
        "batch.s": p50(d.latency for d in batches),
        "batch.jobs": mean(g(d.span).jobs for d in batches),
        "batch.shuffle_bytes_per_query": sum(g(d.span).shuffle_write_bytes for d in batches)
        / max(1, sum(len(d.req.batch) for d in batches)),
        "batch_qps": batch_qps(batches) or 0.0,
    })

    st = run.churn or Churn(pd.DataFrame(), None, segments_max=0)
    applies = st.update_spans
    ga = spans.merged(stats, applies)
    gc = spans.merged(stats, st.compact_spans)
    out.update({
        "update.apply_s": p50(s.wall for s in applies),
        "compact_s": p50(s.wall for s in st.compact_spans),
        "update.jobs": ga.jobs / max(1, len(applies)),
        "update.bytes_written": ga.output_bytes / max(1, len(applies)),
        "update.bytes_per_delta_byte": ga.output_bytes / max(1, st.delta_bytes),
        "update.live_segments_max": st.segments_max,
        "compact.bytes_rewritten": gc.output_bytes / max(1, len(st.compact_spans)),
        "compact.tombstones_cleared": mean(st.tombstones),
        "churn.query_scan_bytes": mean(g(d.span).input_bytes for d in ok if d.phase == "read"),
    })
    return out
