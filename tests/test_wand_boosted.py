"""Doc-level boosts on the WAND scale path (r5; companion to wand_proximity).

Gates:
* wand_boosted == search_boosted (rank AND score) for field-weight,
  recency, and combined boosts — the over-fetch + max-multiplier
  certificate really is exact;
* the escalation loop is exercised (overfetch=1 / tiny max_candidates force
  the certificate to fail at least once, covering both the tail-slope jump
  and the exact-path takeover);
* no boosts configured -> bit-identical to wand_search;
* non-positive max multiplier -> exact-path takeover, still matching
  search_boosted;
* unknown boost column raises ValueError before any job runs.
"""

from __future__ import annotations

import datetime as dt

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.wand import (
    wand_boosted,
    wand_search,
)
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 1200
NOW = dt.datetime(2026, 6, 1, tzinfo=dt.timezone.utc).timestamp()
ROLE_W = {"role": ({"user": 2.0, "assistant": 0.5}, 1.0)}
RECENCY = ("ts", NOW, 30.0)


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wandboost-wh"))
    catalog = Catalog(spark, wh)
    build_index(
        spark,
        catalog,
        transcripts_to_docs(synth_transcripts(spark, N_TURNS)),
        IndexConfig(target_reduce_docs=64),
    )
    return SearchEngine(spark, catalog)


def _rows(df):
    return [
        (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
        for r in df.collect()
    ]


BOOST_TIERS = [
    (["spark", "index"], 10, ROLE_W, None),
    (["spark", "index", "query"], 10, ROLE_W, None),
    (["the", "to"], 10, ROLE_W, None),  # stopword pair: large match set
    (["spark", "index"], 10, None, RECENCY),
    (["the", "to"], 10, ROLE_W, RECENCY),  # combined field x recency
    (["rareterm_xyzzy", "spark"], 5, ROLE_W, None),
    (["zz_not_in_corpus", "spark"], 5, ROLE_W, None),  # AND miss -> empty
]


@pytest.mark.parametrize("terms,k,fw,rec", BOOST_TIERS)
def test_wand_boosted_matches_exact(eng, terms, k, fw, rec):
    exact = _rows(
        eng.search_boosted(terms, "AND", k, field_weights=fw, recency=rec)
    )
    scale = _rows(
        wand_boosted(eng, terms, "AND", k, field_weights=fw, recency=rec)
    )
    assert [s[0] for s in scale] == [e[0] for e in exact]
    for (sd, ss, sm), (ed, es, em) in zip(scale, exact):
        assert ss == pytest.approx(es, rel=1e-12, abs=1e-12), (sd, ss, es)
        assert sm == em


def test_boost_changes_order_vs_plain(eng):
    # the fixture corpus must actually reorder under the role weights,
    # otherwise the parity gates above prove nothing
    plain = [r[0] for r in _rows(wand_search(eng, ["the", "to"], "AND", 10))]
    boosted = [
        r[0]
        for r in _rows(
            wand_boosted(eng, ["the", "to"], "AND", 10, field_weights=ROLE_W)
        )
    ]
    assert boosted != plain


@pytest.mark.parametrize("mode", ["AND", "OR"])
def test_escalation_paths_are_exact(eng, mode):
    # overfetch=1 starts m at k+1, far below the stopword pair's match
    # count; shrinking max_candidates walks the loop through certificate
    # failure, the tail-slope jump, and the exact-path takeover — every
    # stop must land on the exact answer.
    exact = _rows(
        eng.search_boosted(["the", "to"], mode, 3, field_weights=ROLE_W)
    )
    for max_candidates in (4, 8, 64, 256):
        scale = _rows(
            wand_boosted(
                eng,
                ["the", "to"],
                mode,
                3,
                field_weights=ROLE_W,
                overfetch=1,
                max_candidates=max_candidates,
            )
        )
        assert [s[0] for s in scale] == [e[0] for e in exact], max_candidates
        assert scale == pytest.approx(exact)


def test_no_boost_is_wand_search(eng):
    for terms, k in [(["spark", "index"], 10), (["the", "to"], 15)]:
        base = _rows(wand_search(eng, terms, "AND", k))
        noop = _rows(wand_boosted(eng, terms, "AND", k))
        assert noop == base


def test_nonpositive_max_mult_takes_exact_path(eng):
    fw = {"role": ({"user": 0.0, "assistant": 0.0}, 0.0)}
    exact = _rows(
        eng.search_boosted(["spark", "index"], "AND", 5, field_weights=fw)
    )
    scale = _rows(
        wand_boosted(eng, ["spark", "index"], "AND", 5, field_weights=fw)
    )
    assert [s[0] for s in scale] == [e[0] for e in exact]


def test_unknown_column_raises(eng):
    with pytest.raises(ValueError, match="unknown boost column"):
        wand_boosted(
            eng, ["spark"], "AND", 5, field_weights={"nope": ({}, 1.0)}
        )


# ---- batch path (search_many_boosted) --------------------------------------

BATCH = [
    {"query_id": "qa", "terms": ["spark", "index"], "mode": "AND", "k": 5},
    {"query_id": "qb", "terms": ["the", "to"], "mode": "AND", "k": 5},
    {"query_id": "qc", "terms": ["spark"], "mode": "AND", "k": 5},  # 1-term
    {"query_id": "qd", "terms": ["index", "query"], "mode": "OR", "k": 5},
    {"query_id": "qe", "terms": ["zz_not_in_corpus", "spark"], "mode": "AND",
     "k": 5},  # unanswerable -> no rows
]


def _batch_rows(df):
    return [
        (r["query_id"], int(r["rank"]), int(r["doc_id"]), float(r["score"]),
         int(r["matched"]))
        for r in df.collect()
    ]


def _expected_batch(eng, fw=None, rec=None):
    exp = []
    for q in BATCH:
        rows = eng.search_boosted(
            q["terms"], q["mode"], q["k"], field_weights=fw, recency=rec
        ).collect()
        exp.extend(
            (q["query_id"], i + 1, int(r["doc_id"]), float(r["score"]),
             int(r["matched"]))
            for i, r in enumerate(rows)
        )
    return sorted(exp, key=lambda t: (t[0], t[1]))


@pytest.mark.parametrize(
    "kwargs",
    [
        {},  # default routing (exhaustive bound usually applies)
        # certificate / per-query fallback path: tiny over-fetch, exhaustive
        # bound disabled — at least the stopword query must fail the
        # certificate and take its exact branch
        {"overfetch": 1, "exhaustive_df_cutoff": 1},
        # escalation: the cap sits above m = k+1, so a failing query grows
        # m in a further search_many round before it may fall back
        {"overfetch": 1, "exhaustive_df_cutoff": 256},
    ],
)
def test_batch_boosted_matches_exact_per_query(eng, kwargs):
    got = _batch_rows(
        eng.search_many_boosted(BATCH, field_weights=ROLE_W, **kwargs)
    )
    exp = _expected_batch(eng, fw=ROLE_W)
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12, abs=1e-12), (g, e)
        assert g[4] == e[4]


def test_batch_boosted_recency_matches_exact(eng):
    got = _batch_rows(
        eng.search_many_boosted(BATCH, field_weights=ROLE_W, recency=RECENCY)
    )
    exp = _expected_batch(eng, fw=ROLE_W, rec=RECENCY)
    assert [g[:3] for g in got] == [e[:3] for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], rel=1e-12, abs=1e-12), (g, e)


def test_batch_no_boost_is_search_many(eng):
    base = _batch_rows(eng.search_many(BATCH))
    noop = _batch_rows(eng.search_many_boosted(BATCH))
    assert noop == base


def test_batch_nonpositive_max_mult_all_fallback(eng):
    fw = {"role": ({"user": 0.0, "assistant": 0.0}, 0.0)}
    got = _batch_rows(eng.search_many_boosted(BATCH, field_weights=fw))
    exp = _expected_batch(eng, fw=fw)
    assert [g[:3] for g in got] == [e[:3] for e in exp]


def test_batch_unknown_column_raises(eng):
    with pytest.raises(ValueError, match="unknown boost column"):
        eng.search_many_boosted(BATCH, field_weights={"nope": ({}, 1.0)})
