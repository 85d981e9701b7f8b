"""Inputs the engine used to answer quietly with a different query: starred
words the wildcard expander cannot serve, and BM25F over a field that is
NULL for some documents."""

from __future__ import annotations

import math

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
)
from open_source_search_engine_spark.operators.query import (
    SearchEngine,
    UnsupportedPatternError,
)

DOCS = [
    (1, "alpha beta gamma", "user"),
    (2, "alpha delta epsilon zeta", None),
    (3, "beta gamma", "alpha"),
    (4, "omega beta", None),
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("edge-inputs")))
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, role string")
    build_index(spark, cat, docs, IndexConfig())
    return SearchEngine(spark, cat)


@pytest.mark.parametrize("query", ["alpha -bet*", "*lph*", "al*ha", "alpha *", "-*"])
def test_unsupported_wildcards_raise_named_error(eng, query):
    pattern = next(w for w in query.split() if "*" in w)
    with pytest.raises(UnsupportedPatternError, match=pattern.replace("*", r"\*")) as err:
        eng.search(query, "AND", 10)
    assert isinstance(err.value, ValueError)
    assert err.value.pattern == pattern


def test_supported_wildcards_still_expand(eng):
    got = {r["doc_id"] for r in eng.search("alph* -omega", "OR", 10).collect()}
    assert got == {1, 2}
    got = {r["doc_id"] for r in eng.search("*mega", "OR", 10).collect()}
    assert got == {4}


def test_bm25f_scores_docs_with_null_field(eng):
    w, k1, b = 2.0, eng.params.k1, eng.params.b
    got = {
        r["doc_id"]: r["score"]
        for r in eng.search_fielded(
            ["alpha"], "OR", 10, field_col="role", field_weight=w
        ).collect()
    }
    # brute force: a NULL field has no tokens (dl_field = 0)
    rows = [(d, t.split(), (f or "").split()) for d, t, f in DOCS]
    avgdlf = eng.avgdl + w * sum(len(f) for _, _, f in rows) / len(rows)
    tf = {d: bt.count("alpha") + w * ft.count("alpha") for d, bt, ft in rows}
    df = sum(1 for c in tf.values() if c > 0)
    idf = math.log((len(rows) - df + 0.5) / (df + 0.5) + 1.0)
    want = {
        d: idf * c * (k1 + 1.0) / (c + k1 * (1.0 - b + b * (len(bt) + w * len(ft)) / avgdlf))
        for (d, bt, ft), c in zip(rows, tf.values())
        if c > 0
    }
    assert set(got) == {1, 2, 3}, "doc 2 has a NULL role and 'alpha' in its body"
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
