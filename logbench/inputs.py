"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, index)`` (plus, for the
crawl, the documents it has already emitted), so the same seed gives
byte-identical inputs in every run. Warm-up inputs come from a separate
stream of the same seed and never overlap the timed inputs.

The engine only ever sees the pandas frames these return; the expected
outputs the benchmark checks against are computed from the same frames.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TIMED, WARMUP = 0, 1

EPOCH0 = pd.Timestamp("2024-01-01", tz="UTC")

# log_query keys: a finite Zipf over KEY_SPACE names. Names are
# shuffled once per seed so the hot keys land on different partitions.
KEY_SPACE = 50_000
ZIPF_S = 1.1
LATE_SHARE = 0.05
EVENT_SPACING_MS = 100
RETRY_SHARE = 0.02
TOMBSTONE_SHARE = 0.02


def _rng(seed: int, *path: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *[int(p) for p in path]])


_ZIPF_P = np.arange(1, KEY_SPACE + 1, dtype=np.float64) ** -ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()


def _zipf_keys(rng: np.random.Generator, seed: int, n: int) -> np.ndarray:
    names = _rng(seed, 99).permutation(KEY_SPACE)
    return names[rng.choice(KEY_SPACE, size=n, p=_ZIPF_P)]


def key_name(ids: np.ndarray) -> np.ndarray:
    """Key strings ``k000123``; the digits are the integer key id the
    query checksums use on both sides."""
    return np.char.add("k", np.char.zfill(ids.astype(str), 6))


def _event_times(rng: np.random.Generator, first_ms: int, n: int) -> pd.Series:
    """Event times ``EVENT_SPACING_MS`` apart; LATE_SHARE of them arrive
    late by one to twenty minutes."""
    ms = first_ms + np.arange(n, dtype=np.int64) * EVENT_SPACING_MS
    late = rng.random(n) < LATE_SHARE
    ms[late] -= rng.integers(60_000, 1_200_000, size=int(late.sum()))
    return pd.Series(EPOCH0 + pd.to_timedelta(ms, unit="ms"))


def log_query_appends(seed: int, stream: int, appends: int, rows: int):
    """The appends that build the ``log_query`` topic.

    Appends alternate between producers ``p0`` and ``p1``; each producer
    numbers its messages with ``client_seq``. Append ``j >= 2`` ends with
    a ``RETRY_SHARE`` resend of rows from append ``j - 2`` (same
    producer, same ``client_seq``): the producer-retry duplicates that
    ``dedup_messages`` removes. Returns ``[(producer, frame), ...]``.
    """
    fresh = []
    next_seq = {"p0": 0, "p1": 0}
    for j in range(appends):
        rng = _rng(seed, 2, stream, j)
        producer = f"p{j % 2}"
        seq = next_seq[producer] + np.arange(rows, dtype=np.int64)
        next_seq[producer] += rows
        fresh.append(pd.DataFrame(
            {
                "key": key_name(_zipf_keys(rng, seed, rows)),
                "value": rng.integers(0, 1 << 20, size=rows, dtype=np.int64),
                "event_time": _event_times(rng, j * rows * EVENT_SPACING_MS, rows),
                "tombstone": rng.random(rows) < TOMBSTONE_SHARE,
                "client_seq": seq,
            }
        ))
    out = []
    for j, frame in enumerate(fresh):
        if j >= 2:
            rng = _rng(seed, 2, stream, appends + j)
            pick = np.sort(rng.choice(rows, size=int(rows * RETRY_SHARE), replace=False))
            frame = pd.concat([frame, fresh[j - 2].iloc[pick]], ignore_index=True)
        out.append((f"p{j % 2}", frame))
    return out


# crawl_curate documents: word sequences over a vocabulary large enough
# that two independent documents share no 3-word shingle in practice.
VOCAB = np.array([f"w{i:05d}" for i in range(20_000)])
SOURCES = np.array(["news", "forum", "wiki", "code"])
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
WORDS = 80


class CrawlInputs:
    """The ``crawl_curate`` epochs for one seed and stream.

    Each epoch holds fresh documents plus planted copies of documents
    seen in this or earlier epochs: ``EXACT_SHARE`` exact duplicates
    (half of them re-cased and re-spaced, which the exact fingerprint
    folds away) and ``NEAR_SHARE`` near-duplicates with one word edited.
    Doc ids increase across epochs, so a planted copy always carries a
    larger id than its original.
    """

    def __init__(self, seed: int, stream: int, docs_per_epoch: int):
        self.seed, self.stream = seed, stream
        self.docs = docs_per_epoch
        self.originals: list[str] = []
        self.next_id = 0

    def epoch(self, e: int) -> pd.DataFrame:
        rng = _rng(self.seed, 3, self.stream, e)
        n_exact = int(self.docs * EXACT_SHARE)
        n_near = int(self.docs * NEAR_SHARE)
        n_fresh = self.docs - n_exact - n_near
        fresh = [" ".join(rng.choice(VOCAB, WORDS)) for _ in range(n_fresh)]
        pool = self.originals + fresh
        copies = []
        for i, src in enumerate(rng.integers(0, len(pool), size=n_exact)):
            t = pool[src]
            copies.append((f"  {t.upper()} " if i % 2 else t, "exact"))
        for src in rng.integers(0, len(pool), size=n_near):
            w = pool[src].split(" ")
            w[int(rng.integers(0, len(w)))] = str(rng.choice(VOCAB))
            copies.append((" ".join(w), "near"))
        # fresh documents first: a copy always carries a larger id than
        # its original, in this epoch or an earlier one
        copies = [copies[i] for i in rng.permutation(len(copies))]
        n = n_fresh + len(copies)
        ids = self.next_id + np.arange(n, dtype=np.int64)
        self.next_id += n
        self.originals.extend(fresh)
        return pd.DataFrame(
            {
                "doc_id": ids,
                "text": fresh + [t for t, _ in copies],
                "source": SOURCES[rng.integers(0, len(SOURCES), size=n)],
                "kind": ["original"] * n_fresh + [k for _, k in copies],
            }
        )


def exact_fingerprint(texts) -> list[str]:
    """md5 of lower(trim(text)) — the engine's exact-dedup fingerprint
    (Spark's ``trim`` strips spaces only)."""
    return [hashlib.md5(t.strip(" ").lower().encode()).hexdigest() for t in texts]


def frame_bytes(frame: pd.DataFrame) -> bytes:
    """Canonical bytes of a generated frame, for determinism checks."""
    return frame.to_csv(index=False).encode()
