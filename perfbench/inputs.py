"""Seeded inputs: transcripts, marker tokens, the query pool, the
request stream drawn from it, and the standing-query set.

Everything here is a pure function of the seed; the engine only ever
sees the rows and query strings produced.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from atire_spark.synth import (
    ADVERSARIAL_TERM,
    STOP_TERMS,
    VOCAB_SIZE,
    make_transcripts_bench,
)

# Query categories and where their terms come from. Vocabulary terms
# are reached through their number half ("termNNNNN" indexes as
# "term" + "NNNNN", and "term" itself is in every turn), so term i of
# the Zipf vocabulary is queried as f"{i:05d}": i < 20 are head terms
# in most turns, 100-999 mid-frequency, 3000+ rare.
# Request rounds ask one query per category in this fixed order, so
# every run, however short, sees the same mix of work: a rare, a head
# and an absent-term query come first, since a run fits only a few.
CATEGORIES = ("rare", "head", "absent", "mid", "stop", "adversarial")
# Terms per query for each category's two queries: 1 to 5 overall, the
# same every seed.
TERMS = {
    "rare": (1, 3),
    "head": (2, 4),
    "absent": (1, 2),
    "mid": (3, 5),
    "stop": (2, 1),
    "adversarial": (1, 3),
}
# Popularity: within a category the first query is asked in two rounds
# out of three and the second in the third, so queries repeat.
POPULARITY = (0, 0, 1)
# standing queries watched for alerts
N_STANDING = 8


def _letters(n: int, width: int) -> str:
    return "".join("abcdefghij"[int(c)] for c in f"{n:0{width}d}")


def marker_token(seed: int, k: int) -> str:
    """A token that occurs nowhere in the generated vocabulary (all
    letters: the tokenizer would split a digit run off)."""
    return "zmark" + _letters(seed % 10**6, 6) + _letters(k, 4)


def plant_marker(pdf: pd.DataFrame, token: str, seed: int) -> str:
    """Append ``token`` to one seeded turn of ``pdf`` (in place);
    returns that turn's document name ``conv_id:turn_idx``."""
    rng = np.random.default_rng([seed, 7])
    i = int(rng.integers(0, len(pdf)))
    pos = pdf.index[i]
    pdf.at[pos, "text"] = f"{pdf.at[pos, 'text']} {token}"
    return f"{pdf.at[pos, 'conv_id']}:{int(pdf.at[pos, 'turn_idx'])}"


def ingest_batch(n_convs: int, seed: int, epoch: int) -> tuple[pd.DataFrame, str, str]:
    """Micro-batch ``epoch`` of fresh turns: conv ids are prefixed with
    the epoch, so batches never share a conversation and arrive in conv
    id order. Returns (rows, marker token, marker document name)."""
    pdf = make_transcripts_bench(n_convs, seed * 10_007 + epoch)
    pdf["conv_id"] = f"b{epoch:04d}" + pdf["conv_id"]
    token = marker_token(seed, epoch)
    return pdf, token, plant_marker(pdf, token, seed * 10_007 + epoch)


def _term(rng: np.random.Generator, category: str) -> str:
    if category == "rare":
        return f"{int(rng.integers(3000, VOCAB_SIZE)):05d}"
    if category == "mid":
        return f"{int(rng.integers(100, 1000)):05d}"
    if category == "head":
        return f"{int(rng.integers(0, 20)):05d}"
    if category == "stop":
        return STOP_TERMS[int(rng.integers(0, len(STOP_TERMS)))]
    if category == "absent":
        return "zq" + _letters(int(rng.integers(0, 10**6)), 6)
    raise ValueError(category)


def make_query(rng: np.random.Generator, category: str, n: int) -> str:
    if category == "adversarial":
        # the skew term (in every turn of the longest conversations)
        # alongside mid-frequency terms
        return " ".join([ADVERSARIAL_TERM] + [_term(rng, "mid") for _ in range(n - 1)])
    return " ".join(_term(rng, category) for _ in range(n))


def query_pool(seed: int) -> dict[str, list[str]]:
    rng = np.random.default_rng([seed, 1])
    return {c: [make_query(rng, c, n) for n in TERMS[c]] for c in CATEGORIES}


def pool_queries(pool: dict[str, list[str]]) -> list[str]:
    """Distinct pool queries in a stable order."""
    return list(dict.fromkeys(q for c in CATEGORIES for q in pool[c]))


class RequestStream:
    """Endless request sequence over the pool: round r asks each
    category in ``CATEGORIES`` order, choosing that category's query
    ``POPULARITY[r % 3]``. The seed changes the queries, never the mix."""

    def __init__(self, pool: dict[str, list[str]]):
        self.pool = pool
        self.n = 0

    @property
    def mid_round(self) -> bool:
        return self.n % len(CATEGORIES) != 0

    def next(self) -> str:
        rnd, slot = divmod(self.n, len(CATEGORIES))
        self.n += 1
        return self.pool[CATEGORIES[slot]][POPULARITY[rnd % len(POPULARITY)]]


def standing_set(seed: int) -> list[tuple[int, str]]:
    """Watched topics for alerting: rare, mid, head and skew-term
    queries (an absent-term topic can never fire)."""
    rng = np.random.default_rng([seed, 3])
    cats = ("rare", "mid", "head", "adversarial")
    return [
        (i + 1, make_query(rng, cats[i % len(cats)], 1 + i % 3))
        for i in range(N_STANDING)
    ]
