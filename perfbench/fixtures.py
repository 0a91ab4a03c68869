"""Seeded synthetic inputs shaped like the sf0.1 fixture tables.

The benchmark never reads fixture files: every input is generated here from
the run's seed, so a checkout holding only the repository can run it.  The
shapes follow the sf0.1 ``events``, ``documents`` and ``embeddings`` tables
(row counts, value ranges, vocabulary, vector width).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EVENTS_START = pd.Timestamp("2024-01-01")
EVENT_HOURS = 720  # 30 days of hourly feature timestamps
N_EVENTS = 100_000

# The sf0.1 documents are drawn from this small technical vocabulary.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EMBED_DIM = 64


def event_series(rng: np.random.Generator, n: int = N_EVENTS) -> pd.DataFrame:
    """Feature-store shaped events series: ``time`` (event hour),
    ``created_time`` (event time plus an ``event_id % 7`` minute ingest
    delay) and ``value``.  Every one of the 720 hours holds at least one
    event, so hourly and daily grids always land on observed timestamps."""
    span_us = EVENT_HOURS * 3600 * 1_000_000
    first = np.arange(EVENT_HOURS, dtype=np.int64) * 3600 * 1_000_000
    first += rng.integers(0, 3600 * 1_000_000, EVENT_HOURS)
    rest = rng.integers(0, span_us, n - EVENT_HOURS)
    ts_us = np.sort(np.concatenate([first, rest]))
    event_id = np.arange(n, dtype=np.int64)
    ts = EVENTS_START + pd.to_timedelta(ts_us, unit="us")
    return pd.DataFrame(
        {
            "time": ts.floor("h"),
            "created_time": ts + pd.to_timedelta(event_id % 7, unit="min"),
            "value": np.round(rng.exponential(50.0, n), 2),
        }
    )


def hourly_frame(rng: np.random.Generator) -> pd.DataFrame:
    """The reference tests' 745-row hourly float frame
    (2024-01-01 .. 2024-02-01 inclusive), time-indexed."""
    idx = pd.date_range(EVENTS_START, EVENTS_START + pd.Timedelta(days=31), freq="h")
    return pd.DataFrame({"value": np.round(rng.normal(50.0, 10.0, len(idx)), 4)}, index=idx)


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """``n`` documents of 10-100 vocabulary tokens.  About one in twenty is a
    planted near-duplicate of an earlier document (a copy, or a copy with
    its last token changed), so the dedup index always has pairs to find;
    random documents share almost no 3-gram shingles."""
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                src[-1] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pd.DataFrame(
        {"doc_id": np.arange(first_id, first_id + n, dtype=np.int64), "text": texts}
    )


def embeddings(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """``n`` 64-dim float32 vectors; about one in ten is a near-copy of an
    earlier one (cosine >= 0.99) so the vector dedup has work to do."""
    vecs = rng.normal(0.0, 0.1, (n, EMBED_DIM)).astype(np.float32)
    for i in range(10, n):
        if rng.random() < 0.1:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.005, EMBED_DIM).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": list(vecs),
        }
    )
