"""The exact path's two routes (operators/query.py): a small plan decodes in
ONE Python task with no Exchange, a large one in a task per postings file
with a doc_id shuffle. Both must give the same rows and float64 scores,
equal to the golden oracle, with and without tombstones; and a small query
whose plan is cached must run as one Spark job with one task."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.functions.oracle import (
    build_oracle_index,
    oracle_topk,
)
from open_source_search_engine_spark.operators import query as query_mod
from open_source_search_engine_spark.operators.index_build import (
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.updates import apply_updates
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 300
ABSENT = "zzqq_absent_term"

# (include, mode, exclude)
CASES = [
    (["spark", "index"], "AND", []),
    (["spark", "index", "the"], "OR", []),
    (["spark"], "AND", ["index"]),
    (["spark", "index"], "OR", ["the"]),
    (["spark", "index"], "OR", ["index"]),  # both included and excluded
    (["spark"], "AND", [ABSENT]),
    (["spark", ABSENT], "AND", []),
]


def _with_oracle(spark, catalog):
    docs = catalog.read_table("documents").select("doc_id", "text").toPandas()
    return catalog, build_oracle_index(docs)


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("routes-plain")))
    build_index(spark, cat, transcripts_to_docs(synth_transcripts(spark, N_TURNS)))
    return _with_oracle(spark, cat)


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("routes-tomb")))
    base = transcripts_to_docs(synth_transcripts(spark, N_TURNS))
    build_index(spark, cat, base)
    changed = base.filter(F.col("turn_idx") == 2).withColumn(
        "text", F.concat(F.lit("spark index rewritten "), F.col("text"))
    )
    apply_updates(
        spark,
        cat,
        upserts=changed,
        delete_ids=base.filter(F.col("turn_idx") == 5).select("doc_id"),
    )
    assert cat.table_exists("tombstones")
    return _with_oracle(spark, cat)


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"]), int(r["matched"])) for r in df.collect()]


def _both_routes(monkeypatch, catalog, run):
    """run(engine) on a fresh engine per route: one-task, then split."""
    spark = catalog.spark
    one = run(SearchEngine(spark, catalog))
    monkeypatch.setattr(query_mod, "SINGLE_TASK_MAX_POSTINGS", 0)
    split = run(SearchEngine(spark, catalog))
    monkeypatch.undo()
    return one, split


@pytest.mark.parametrize("fixture", ["plain", "tombstoned"])
@pytest.mark.parametrize("include,mode,exclude", CASES)
def test_routes_identical_and_match_oracle(
    request, monkeypatch, fixture, include, mode, exclude
):
    catalog, oidx = request.getfixturevalue(fixture)
    k = 15
    one, split = _both_routes(
        monkeypatch,
        catalog,
        lambda e: (
            _rows(e.search_terms(include, mode, k, exclude)),
            sorted(_rows(e.score_terms(include, mode, exclude))),
        ),
    )
    assert one == split
    want = oracle_topk(oidx, include, mode, 10**9, exclude_terms=exclude)
    top, full = one
    assert [(d, s) for d, s, _ in top] == want[:k]
    assert sorted((d, s) for d, s, _ in full) == sorted(want)
    if ABSENT in include:
        assert not full
    else:
        assert full, "every other case has matches in the corpus"


@pytest.mark.parametrize("fixture", ["plain", "tombstoned"])
def test_filter_docs_routes_identical_and_match_oracle(
    request, monkeypatch, fixture
):
    catalog, oidx = request.getfixturevalue(fixture)
    allowed = sorted(oidx.dl)[::3]
    spark = catalog.spark
    keep = spark.createDataFrame([(d,) for d in allowed], "doc_id long")
    one, split = _both_routes(
        monkeypatch,
        catalog,
        lambda e: _rows(
            e.search_terms(["spark", "the"], "OR", 12, ["index"], filter_docs=keep)
        ),
    )
    assert one == split
    allowed_set = set(allowed)
    want = [
        (d, s)
        for d, s in oracle_topk(oidx, ["spark", "the"], "OR", 10**9, exclude_terms=["index"])
        if d in allowed_set
    ][:12]
    assert [(d, s) for d, s, _ in one] == want
    assert want


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_cached_query_is_one_job_one_task(plain):
    catalog, _ = plain
    spark = catalog.spark
    sc = spark.sparkContext
    eng = SearchEngine(spark, catalog)
    include, exclude = ["spark", "index"], ["the"]
    eng.plan_terms(include + exclude)  # the plan is cached from here on
    df = eng.search_terms(include, "OR", 10, exclude)
    plan = _physical(df)
    assert "MapInPandas" in plan and "Exchange" not in plan, plan
    group = "exact-route-one-job"
    sc.setJobGroup(group, "one-task exact route")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    stages = tracker.getJobInfo(jobs[0]).stageIds
    assert [tracker.getStageInfo(s).numTasks for s in stages] == [1]


def test_split_route_shuffles_on_doc_id(plain, monkeypatch):
    # the route the constant turns off: a task per postings file and a
    # doc_id Exchange under the aggregate
    catalog, _ = plain
    eng = SearchEngine(catalog.spark, catalog)
    eng.plan_terms(["spark", "index"])
    monkeypatch.setattr(query_mod, "SINGLE_TASK_MAX_POSTINGS", 0)
    plan = _physical(eng.search_terms(["spark", "index"], "AND", 10))
    assert "Exchange hashpartitioning(doc_id" in plan, plan
    assert "Coalesce" not in plan
