"""Seeded inputs: the corpus, the serve request stream and the churn deltas.

Everything here is a pure function of the seed (and of the corpus it made),
so one seed always gives the same corpus, the same requests and the same
deltas. The program under test only ever receives what these functions
return.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from open_source_search_engine_spark.sources import transcripts

#: turns in the corpus. Per-call Spark overhead dominates every operation at
#: this size (10k and 20k turns measured the same build and query times on a
#: 4-core host), and the pure-Python oracle cost grows with it, so it is kept
#: small enough that the answer checks fit the run budget.
N_TURNS = 10_000
STOPWORDS = [str(s) for s in transcripts.STOPWORDS]
#: largest k any request asks for; the hot-term cache is built this deep
MAX_K = 50
BATCH_QUERIES = 8
#: turn ids stay below 4 * TURN_SPACE = 8e8: conv ids are printed with 8
#: digits (turn id // 8), so larger ids would collide
TURN_SPACE = 200_000_000


def corpus(seed: int, n_turns: int = N_TURNS) -> pd.DataFrame:
    """Transcript rows for a seed: a seeded window of the package's
    deterministic synthetic turn space, past its planted edge cases."""
    base = 1_000 + int(np.random.default_rng(seed).integers(0, TURN_SPACE))
    return transcripts.generate_batch(np.arange(base, base + n_turns, dtype=np.int64))


def fresh_turns(seed: int, start: int, n: int) -> pd.DataFrame:
    """Turns from a range no corpus window reaches."""
    base = 2 * TURN_SPACE + int(np.random.default_rng(seed).integers(0, TURN_SPACE)) + start
    return transcripts.generate_batch(np.arange(base, base + n, dtype=np.int64))


def zipf_vocab(df: dict[str, int]) -> tuple[list[str], np.ndarray]:
    """Corpus vocabulary by df descending (stopwords first) with Zipf(1)
    draw probabilities over that rank order."""
    terms = sorted(df, key=lambda t: (-df[t], t))
    p = 1.0 / np.arange(1, len(terms) + 1)
    return terms, p / p.sum()


@dataclass
class Request:
    kind: str  # "search" | "hot" | "wand" | "batch"
    terms: list[str]
    mode: str = "AND"
    k: int = 10
    exclude: list[str] = field(default_factory=list)
    #: search_many members: (terms, mode, k)
    batch: list[tuple[list[str], str, int]] = field(default_factory=list)

    @property
    def query(self) -> str:
        return " ".join(self.terms + ["-" + t for t in self.exclude])

    def all_terms(self) -> set[str]:
        out = set(self.terms) | set(self.exclude)
        for terms, _, _ in self.batch:
            out |= set(terms)
        return out


#: the serve stream repeats this pattern of request kinds; what each request
#: asks for is drawn from the seed. Search strings have two or three terms
#: and only the "hot" kind is a single term, so the share of requests the
#: hot-term cache answers is the same in every run (a seed-dependent share
#: would move the median between the cache and the scan path). Every other
#: WAND request is a stopword-only conjunction. WAND requests and batches
#: are the slowest (about 2 s each here), so they are rarer, to keep a
#: traced run's 100 single requests within the run time limit.
_HALF = ["search", "hot", "search", "search", "wand", "search", "hot", "search",
         "search", "hot", "search", "search", "hot", "search", "search", "search"]
SERVE_PATTERN = _HALF + _HALF[:-1] + ["batch"]


def _draw_terms(rng, vocab, p, n) -> list[str]:
    idx = rng.choice(len(vocab), size=n, replace=False, p=p)
    return sorted(vocab[i] for i in idx)


def _exclusion(rng, vocab, p, terms: list[str]) -> list[str]:
    """One Zipf-drawn term that is not among ``terms``."""
    while True:
        t = _draw_terms(rng, vocab, p, 1)[0]
        if t not in terms:
            return [t]


def serve_stream(seed: int, df: dict[str, int]) -> Iterator[Request]:
    """Distinct requests: search strings (AND/OR, some with one exclusion),
    single stopwords, WAND conjunctions (half of them stopword-only) and
    search_many batches. A run takes as many as it has time for."""
    rng = np.random.default_rng([seed, 1])
    vocab, p = zipf_vocab(df)
    seen: set = set()
    n_out = n_wand = 0
    while True:
        kind = SERVE_PATTERN[n_out % len(SERVE_PATTERN)]
        k = int(rng.integers(1, MAX_K + 1))
        if kind == "search":
            terms = _draw_terms(rng, vocab, p, int(rng.integers(2, 4)))
            mode = "AND" if rng.random() < 0.5 else "OR"
            exclude = _exclusion(rng, vocab, p, terms) if rng.random() < 0.25 else []
            req = Request(kind, terms, mode, k, exclude)
        elif kind == "hot":
            mode = "AND" if rng.random() < 0.5 else "OR"
            req = Request(kind, [STOPWORDS[int(rng.integers(len(STOPWORDS)))]], mode, k)
        elif kind == "wand":
            if n_wand % 2 == 0:
                terms = sorted(rng.choice(STOPWORDS, size=2, replace=False).tolist())
            else:
                terms = _draw_terms(rng, vocab, p, 2)
            req = Request(kind, [str(t) for t in terms], "AND", k)
        else:
            members = [
                (
                    _draw_terms(rng, vocab, p, int(rng.integers(1, 4))),
                    "AND" if rng.random() < 0.5 else "OR",
                    int(rng.integers(1, MAX_K + 1)),
                )
                for _ in range(BATCH_QUERIES)
            ]
            req = Request(kind, [], batch=members)
        key = (req.kind, tuple(req.terms), req.mode, req.k, tuple(req.exclude),
               tuple((tuple(t), m, kk) for t, m, kk in req.batch))
        if key not in seen:
            seen.add(key)
            n_out += 1
            n_wand += kind == "wand"
            yield req


def churn_reads(seed: int, cycle: int, df: dict[str, int]) -> tuple[list[Request], list[Request]]:
    """The reads fresh engines run after a churn delta and after the
    compaction that follows it. After the delta: search strings and one
    single stopword (the hot-term cache is stale until compaction, so that
    one scans too); after compaction: a search string and a stopword the
    rebuilt cache answers."""
    rng = np.random.default_rng([seed, 2, cycle])
    vocab, p = zipf_vocab(df)

    def search(mode: str, exclude: bool = False) -> Request:
        terms = _draw_terms(rng, vocab, p, 2)
        ex = _exclusion(rng, vocab, p, terms) if exclude else []
        return Request("search", terms, mode, int(rng.integers(1, MAX_K + 1)), ex)

    stop = STOPWORDS[cycle % len(STOPWORDS)]
    after_delta = [search("AND"), search("OR"), search("AND", exclude=True),
                   Request("hot", [stop], "AND", 10)]
    after_compaction = [search("OR"), Request("hot", [stop], "AND", 20)]
    return after_delta, after_compaction


@dataclass
class Delta:
    upserts: pd.DataFrame  # transcript rows + doc_id: replaced and new turns
    delete_ids: np.ndarray


#: per churn cycle: existing turns re-written, new turns, turns deleted
DELTA_REPLACE, DELTA_NEW, DELTA_DELETE = 100, 50, 50


def churn_delta(seed: int, cycle: int, live: pd.DataFrame, new_turns: pd.DataFrame) -> Delta:
    """Seeded delta against the live corpus. ``new_turns`` are fresh turns
    that already carry their doc_id; their text also rewrites the replaced
    turns."""
    rng = np.random.default_rng([seed, 3, cycle])
    pick = rng.choice(len(live), DELTA_REPLACE + DELTA_DELETE, replace=False)
    replaced = live.iloc[pick[:DELTA_REPLACE]].copy()
    replaced["text"] = new_turns["text"].to_numpy()[:DELTA_REPLACE]
    added = new_turns.iloc[DELTA_REPLACE:DELTA_REPLACE + DELTA_NEW]
    upserts = pd.concat([replaced, added], ignore_index=True)
    deletes = live["doc_id"].to_numpy()[pick[DELTA_REPLACE:]]
    return Delta(upserts, deletes)


def apply_delta(live: pd.DataFrame, delta: Delta) -> pd.DataFrame:
    """The corpus after the delta: what a fresh build of it would index."""
    gone = set(delta.upserts["doc_id"].tolist()) | set(delta.delete_ids.tolist())
    kept = live[~live["doc_id"].isin(gone)]
    return pd.concat([kept, delta.upserts[live.columns]], ignore_index=True)


def stream_shares(reqs: list[Request], plan_hits: list[bool], df: dict[str, int],
                  hot_min_df: int, wand_cutoff: int) -> dict[str, float]:
    """Measured input properties of the requests a run executed, so a change
    that helps only inputs with one property can cite its share.
    ``plan_hits[i]`` says whether every term of ``reqs[i]`` was planned
    before by the same engine."""
    searches = [r for r in reqs if r.kind in ("search", "hot")]
    singles = [r for r in reqs if r.kind != "batch"]
    wands = [r for r in reqs if r.kind == "wand"]
    modes = [r.mode for r in searches] + [m for r in reqs for _, m, _ in r.batch]

    def share(xs, pred):
        return round(sum(1 for x in xs if pred(x)) / len(xs), 4) if xs else 0.0

    return {
        "and_share": share(modes, lambda m: m == "AND"),
        "or_share": share(modes, lambda m: m == "OR"),
        "exclusion_share": share(searches, lambda r: bool(r.exclude)),
        "hot_eligible_share": share(
            singles,
            lambda r: r.kind != "wand" and len(r.terms) == 1 and not r.exclude
            and df.get(r.terms[0], 0) >= hot_min_df,
        ),
        "wand_two_phase_share": share(
            wands, lambda r: min(df.get(t, 0) for t in r.terms) > wand_cutoff
        ),
        "plan_cache_hit_share": share(plan_hits, bool),
    }
