"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and writes parquet
files whose bytes depend only on the seed and the size arguments
(``perfbench/test_perfbench.py`` checks this by hash).  Schemas, key
domains and value shapes follow the repository's sf0.1 test tables,
measured column by column (README.md, "Inputs"): timestamps are tz-naive
``timestamp[us]``, ``events.user_id`` joins to ``customer.c_custkey``,
documents use the same 30-word vocabulary.  The one deliberate departure
is the skew of ``user_id`` (see ``ZIPF_S``).  ``customer`` and
``nation`` are not generated: ``data/`` holds copies of the sf0.1 tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EPOCH_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
HOUR_US = 3_600_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"], dtype=object)
VOCAB = np.array(
    (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row the "
        "agg key query a scan batch"
    ).split(),
    dtype=object,
)
LANGS = np.array(["en", "es", "zh", "de", "fr"], dtype=object)
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])

#: Zipf exponent of every skewed key column.  sf0.1's ``user_id`` is
#: uniform (45-99 events per user); the benchmark skews it so that a few
#: hot users carry a large share of events, as in a real clickstream,
#: which is what stresses shuffles, windows and point lookups.
ZIPF_S = 1.1
#: Mean of ``events.value``: sf0.1's values are exponential with mean
#: 49.9 (quartiles 14.6 / 34.8 / 68.9), rounded to 2 decimals.
VALUE_MEAN = 50.0
#: Share of sf0.1's documents that are another document plus the token
#: ``dup`` (250 of 5,000).
DUP_SHARE = 0.05


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def zipf_keys(rng: np.random.Generator, n: int, domain: int) -> np.ndarray:
    """``n`` draws from ``[0, domain)`` with Zipf(``ZIPF_S``) rank
    frequencies; ranks map to ids through a seeded permutation so the
    hot keys are scattered over the domain."""
    p = 1.0 / np.arange(1, domain + 1) ** ZIPF_S
    ranks = rng.choice(domain, size=n, p=p / p.sum())
    return rng.permutation(domain)[ranks].astype(np.int64)


def ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def events(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    start_us: int,
    span_us: int,
    first_id: int = 0,
    sort: bool = True,
) -> pa.Table:
    """Clickstream ``events`` rows with timestamps uniform in
    ``[start_us, start_us + span_us)`` (microseconds since ``EPOCH``).
    As in sf0.1, the five event types and ``props.k`` in 0-99 are
    uniform and values are exponential, rounded to 2 decimals."""
    offs = rng.integers(0, span_us, size=n)
    if sort:
        offs.sort()
    k = rng.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": ts_array(EPOCH_US + start_us + offs),
            "user_id": pa.array(zipf_keys(rng, n, n_users)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)], type=pa.string()),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, size=n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()], type=pa.string()),
        }
    )


def hour_file(
    rng: np.random.Generator, hour: int, n: int, n_users: int, late_share: float
) -> pa.Table:
    """One landed event-hour of the online stream: ``n`` events of hour
    ``hour`` in shuffled order, ``late_share`` of them stragglers from
    the previous hour's last 10 minutes — later than their window but
    inside the 15-minute watermark, so none may be dropped."""
    t = events(rng, n, n_users, hour * HOUR_US, HOUR_US, first_id=hour * n, sort=False)
    if hour > 0:
        late = rng.random(n) < late_share
        ts = t.column("ts").to_numpy().astype(np.int64)
        ts[late] = EPOCH_US + hour * HOUR_US - rng.integers(1, HOUR_US // 6, size=int(late.sum()))
        t = t.set_column(1, "ts", ts_array(ts))
    return t


def documents(rng: np.random.Generator, n: int, dup_share: float = DUP_SHARE) -> pa.Table:
    """``n`` documents shaped like sf0.1's: 10-100 tokens (uniform) drawn
    uniformly from the vocabulary, 41% ``en`` and 15% each of four other
    languages, 20 sources in turn; ``dup_share`` of them are an earlier
    document plus the token ``dup``, which sets how much work the
    MinHash/LSH candidate stages share."""
    toks: list[list[str]] = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            t = toks[int(rng.integers(0, i))] + ["dup"]
        else:
            t = VOCAB[rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))].tolist()
        toks.append(t)
    text = [" ".join(t) for t in toks]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text, type=pa.string()),
            "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    """``n`` ``dim``-d float32 unit vectors with labels 0-9, shaped like
    sf0.1's: isotropic Gaussian directions, labels uniform and
    independent of the vectors, no near neighbours (its closest pair has
    cosine 0.60)."""
    v = rng.normal(0.0, 1.0, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )
