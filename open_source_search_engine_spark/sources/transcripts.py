"""Deterministic synthetic transcript corpus (the engine's input table).

Schema is exactly BASELINE.json's ``input_hint``:
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp). The reference ingests documents by crawl/inject
(`SpiderLoop.cpp`, `PageInject.cpp:243`); our input contract replaces that
with reading this table, and tests synthesize it (FIXTURES.md §1: seeded
zipfian vocab, planted tokenizer edge cases, 30% of tokens drawn from 5
stopword terms to force the skew path).

Generation is HASH-BASED and row-local (splitmix64 of the global turn id), so
it is deterministic regardless of partitioning or parallelism -- the same
corpus materializes on local[8] and local[32], which the scaling benchmark
relies on. Everything is numpy-vectorized inside mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42
TURNS_PER_CONV = 8
ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator", "editor"])
STOPWORDS = np.array(["the", "to", "and", "of", "a"])
STOPWORD_FRACTION = 0.30
VOCAB_SIZE = 2000
BASE_TS = np.datetime64("2026-01-01T00:00:00")

# planted tokenizer/scorer edge cases (FIXTURES.md §1) occupy the first turns
PLANTED = [
    "Café Müller visited 東京 with naïve zeal",
    "bob's cd-rom and alice's x-ray",
    "to be or not to be",
    "hello 😀 world 😀😀 emoticons",
    "1,000 items cost 1.8 dollars",
    "single",
    "repeat repeat repeat repeat repeat",
    "",  # empty turn: dl = 0, indexes nothing
    "the the the the the the the the",  # pure-stopword turn
    "rareterm_xyzzy appears exactly here once",
]

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain algorithm).

    uint64 wraparound is intentional (modular arithmetic)."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + _SM_GAMMA)
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        return z ^ (z >> np.uint64(31))


def _h(*streams: np.ndarray | int) -> np.ndarray:
    """Combine integer streams into one 64-bit hash, seeded."""
    acc = np.uint64(SEED * 0x517CC1B727220A95 & 0xFFFFFFFFFFFFFFFF)
    out = None
    with np.errstate(over="ignore"):
        for s in streams:
            arr = np.asarray(s, dtype=np.uint64)
            mixed = _splitmix64(arr + acc)
            out = mixed if out is None else _splitmix64(out ^ mixed)
            acc = acc + _SM_GAMMA
    return out


def _uniform(*streams) -> np.ndarray:
    """float64 uniforms in [0,1) from hashes."""
    return (_h(*streams) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


_VOCAB = None


def vocab() -> np.ndarray:
    global _VOCAB
    if _VOCAB is None:
        base = [
            "spark", "index", "query", "token", "merge", "shard", "score",
            "posting", "block", "search", "rank", "table", "shuffle", "batch",
            "vector", "stream", "join", "filter", "agg", "window",
        ]
        words = base + [f"w{i:04d}" for i in range(VOCAB_SIZE - len(base))]
        _VOCAB = np.array(words)
    return _VOCAB


def _texts_for_ids(gids: np.ndarray) -> list[str]:
    """Deterministic text per global turn id (vectorized over the batch)."""
    v = vocab()
    ln_v = np.log(len(v))
    # turn length: 3..60 tokens, skewed short; planted ids handled after
    lens = 3 + (_h(gids, 1) % np.uint64(58)).astype(np.int64)
    total = int(lens.sum())
    doc_of = np.repeat(np.arange(gids.size), lens)
    pos = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    g_rep = gids[doc_of]
    u_stop = _uniform(g_rep, pos, 2)
    u_word = _uniform(g_rep, pos, 3)
    # zipf-ish rank sampling: rank = floor(exp(u * ln V)) - 1
    ranks = np.minimum(
        (np.exp(u_word * ln_v)).astype(np.int64) - 1, len(v) - 1
    )
    words = np.where(
        u_stop < STOPWORD_FRACTION,
        STOPWORDS[(_h(g_rep, pos, 4) % np.uint64(len(STOPWORDS))).astype(np.int64)],
        v[ranks],
    )
    # join per doc
    out: list[str] = []
    starts = np.cumsum(lens) - lens
    for i in range(gids.size):
        s = int(starts[i])
        out.append(" ".join(words[s : s + int(lens[i])]))
    # planted edge cases override the first len(PLANTED) global turns
    for i, g in enumerate(gids):
        if g < len(PLANTED):
            out[i] = PLANTED[g]
    return out


def generate_batch(gids: np.ndarray) -> pd.DataFrame:
    """One batch of transcript rows for the given global turn ids."""
    gids = np.asarray(gids, dtype=np.int64)
    conv = gids // TURNS_PER_CONV
    turn_idx = (gids % TURNS_PER_CONV).astype(np.int32)
    role = ROLES[turn_idx % 3]
    tool = np.where(
        role == "tool",
        TOOLS[(_h(gids, 5) % np.uint64(len(TOOLS))).astype(np.int64)],
        None,
    )
    ts = BASE_TS + gids.astype("timedelta64[s]")
    return pd.DataFrame(
        {
            # %08d pads without truncating (np.char.zfill's output is
            # exactly 8 wide, so conversation ids >= 1e8 would collide)
            "conv_id": np.char.mod("conv-%08d", conv),
            "turn_idx": turn_idx,
            "role": role,
            "text": _texts_for_ids(gids),
            "tool": tool,
            "ts": pd.Series(ts),
        }
    )


def synth_transcripts(
    spark: SparkSession, n_turns: int, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus of ``n_turns`` transcript turns."""
    rng = spark.range(n_turns, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield generate_batch(b["id"].to_numpy())

    return rng.mapInPandas(gen, schema=SCHEMA)


def synth_pandas(n_turns: int) -> pd.DataFrame:
    """Same corpus, locally, for the golden oracle."""
    return generate_batch(np.arange(n_turns, dtype=np.int64))
