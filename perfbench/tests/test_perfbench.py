"""Self-tests of the benchmark: the event-log roll-up, the percentile rule
and the answer check.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

import check
import inputs
import spans
import workloads


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    assert check.percentile(xs, 0.9) == 89.0
    assert check.percentile(xs[:99], 0.9) is None
    assert check.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert check.percentile([], 0.5) is None


def test_covered_merges_overlapping_stages():
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.covered([(0, 2)], 1, 10) == 1


def _tiny_index():
    docs = pd.DataFrame({"doc_id": [1, 2, 3],
                         "text": ["spark index", "spark spark join", "index"]})
    return check.oracle_index(docs)


def _run() -> workloads.Run:
    return workloads.Run(None, spans.Tracer(None), "", 0, 0)


def test_planted_wrong_answer_counts_as_failed():
    index = _tiny_index()
    req = inputs.Request("search", ["spark"], "OR", 10)
    right = [{"doc_id": d, "score": s} for d, s in check.expected(index, ["spark"], "OR", 10)]
    wrong = [dict(right[0], score=right[0]["score"] + 1e-12)] + right[1:]
    run = _run()
    workloads.check_requests(run, [workloads.Done(req, 0.1, "serve", rows=right)], index)
    assert (run.attempted, run.failed) == (1, 0)
    workloads.check_requests(run, [workloads.Done(req, 0.1, "serve", rows=wrong)], index)
    workloads.check_requests(run, [workloads.Done(req, 0.1, "serve", rows=None)], index)
    assert (run.attempted, run.failed) == (3, 2)
    assert run.failed / run.attempted > 0


def test_planted_wrong_statistics_count_as_failed():
    index = _tiny_index()
    ts = pd.DataFrame([(t, len(p), sum(p.values())) for t, p in index.postings.items()],
                      columns=["term", "df", "cf"])
    cs = {"n_docs": index.n_docs, "avgdl": index.avgdl}
    assert check.stats_mismatches(index, ts, cs) == 0
    ts.loc[0, "cf"] += 1
    assert check.stats_mismatches(index, ts, dict(cs, n_docs=4)) == 2


def test_streams_are_seeded_and_distinct():
    df = {"the": 90, "a": 80, "to": 70, "and": 60, "of": 50, "spark": 9, "index": 5}
    a = list(itertools.islice(inputs.serve_stream(7, df), 60))
    b = itertools.islice(inputs.serve_stream(7, df), 60)
    assert [vars(r) for r in a] == [vars(r) for r in b]
    keys = {(r.kind, tuple(r.terms), r.mode, r.k, tuple(r.exclude), str(r.batch)) for r in a}
    assert len(keys) == len(a)
    wands = [r for r in a if r.kind == "wand"]
    assert all(set(r.terms) <= set(inputs.STOPWORDS) for r in wands[::2])


@pytest.fixture(scope="module")
def traced_log(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    builder = SparkSession.builder.master("local[2]").appName("perfbench-selftest")
    for k, v in {**spans.event_log_conf(str(log_dir)),
                 "spark.ui.enabled": "false",
                 "spark.sql.shuffle.partitions": "4"}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tracer = spans.Tracer(spark.sparkContext)
    with tracer.span("agg") as agg:
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    with tracer.span("count") as cnt:
        spark.range(10).count()
    spark.range(5).collect()  # outside any span
    spark.stop()
    return spans.rollup(str(log_dir)), agg, cnt


def test_event_log_rollup_attributes_jobs_to_spans(traced_log):
    stats, agg, cnt = traced_log
    assert set(stats) == {agg.group, cnt.group}
    a, c = stats[agg.group], stats[cnt.group]
    assert a.jobs >= 1 and c.jobs >= 1
    assert a.tasks >= 2 and a.stages >= 2
    assert a.shuffle_write_bytes > 0 and a.shuffle_read_bytes > 0
    assert a.map_run_s >= 0 and a.run_s > 0
    assert 0 <= spans.unstaged(stats, agg) <= agg.wall
    merged = spans.merged(stats, [agg, cnt])
    assert merged.jobs == a.jobs + c.jobs and merged.tasks == a.tasks + c.tasks
