"""Multi-JVM parity gate: local-cluster executors == local threads.

The north rule runs the engine via spark-submit on a multi-executor
cluster. Every other gate in the suite exercises local[N] (one JVM);
this one proves the build + query path is JVM-topology-independent by
rebuilding the same corpus under ``local-cluster[2,1,...]`` — two
SEPARATE executor JVMs with real netty shuffle and driver/executor
closure shipping — in a child process, and diffing the fixed query
battery bit-for-bit (doc_ids, float64 scores, matched counts) against
the in-process ``local[4]`` session's results on the identical corpus --
once on the exact path's one-task route and once on its split route (a
decode task per postings file and a doc_id shuffle, the route large plans
take), so the cross-executor shuffle stays covered.

Failures this would catch that no local[N] test can: driver-local state
consulted from executors, lambda/Arrow serialization differences across
JVM boundaries, and aggregation-order score drift under a different
physical topology (the canonical-order float64 aggregation contract,
query.py `_aggregate_scores`).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from cluster_parity_child import build_and_run  # noqa: E402

N_TURNS = 20_000


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    from open_source_search_engine_spark.sources.transcripts import (
        synth_transcripts,
    )

    d = str(tmp_path_factory.mktemp("parity") / "corpus")
    synth_transcripts(spark, N_TURNS, partitions=4).write.parquet(d)
    return d


def test_local_cluster_battery_bit_identical(
    spark, corpus_dir, tmp_path_factory
):
    wh_local = str(tmp_path_factory.mktemp("parity-wh-local"))
    expected = build_and_run(spark, corpus_dir, wh_local)
    # sanity: the battery actually matched documents
    assert len(expected["and"]) == 10
    assert len(expected["wand"]) == 10
    assert expected["rare"]  # planted rare term: present, tiny df
    # r5 session-6 paths all matched something to diff
    for key in ("relaxed", "fuzzy", "prf", "ltr"):
        assert expected[key], f"battery entry {key} is empty"
    # the exact path's two routes agree in one JVM before either is
    # diffed across JVMs
    assert expected["split"] == {
        k: v for k, v in expected.items() if k != "split"
    }

    wh_cluster = str(tmp_path_factory.mktemp("parity-wh-cluster"))
    env = dict(os.environ)
    # the child JVMs are small and short-lived; keep their footprint away
    # from the session-scoped local[4] JVM this test runs beside
    env.setdefault("OSSE_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "cluster_parity_child.py"),
            corpus_dir,
            "local-cluster[2,1,2048]",
            wh_cluster,
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    lines = [
        ln
        for ln in proc.stdout.splitlines()
        if ln.startswith("PARITY_RESULT ")
    ]
    assert lines, (
        f"child produced no result (rc={proc.returncode})\n"
        f"stdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-2000:]}"
    )
    got = json.loads(lines[0][len("PARITY_RESULT "):])
    # bit-for-bit: doc ids, float64 scores (json round trip is repr-exact),
    # and matched counts, for every battery entry including WAND
    assert got == json.loads(json.dumps(expected, sort_keys=True))
