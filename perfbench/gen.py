"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, size): the same seed gives
byte-identical inputs.  The program under test receives only the
directory written here.

- ``corpus/``: a Zipf text corpus over the reference's 7,359-word
  vocabulary, split into part files, plus the exact per-word counts
  the generator drew (``counts.json``), which check the word count.
- ``documents.parquet``: short lowercase documents of which a stated
  share are planted near-duplicates (a few words substituted) of an
  earlier document.
- ``events.parquet``: the events table of FIXTURES.md (event_id, ts,
  user_id, event_type, value, props) over 30 days of event time.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 7359  # the reference's distinct-word count (BASELINE.md)
WORDS_PER_LINE = 12
CORPUS_PARTS = 16  # equal-sized files pack into one scan task per core, whatever the seed
ZIPF_S = 1.1

DOC_VOCAB = 2000
DOC_MIN_WORDS, DOC_MAX_WORDS = 10, 90
DOC_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
DOC_SOURCES = 5
DUP_EDIT_SHARE = 0.08  # share of a planted duplicate's words replaced

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_SPAN_S = 30 * 24 * 3600
EVENT_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EVENTS_PER_USER = 66

# Input sizes per scale.  "bench" is what the benchmark measures; "tiny"
# exists for the smoke test of the benchmark itself.
SIZES = {
    "bench": {
        "corpus_tokens": 30_000_000,
        "documents": 600,
        "dup_share": 0.2,
        "events": 5000,
    },
    "tiny": {
        "corpus_tokens": 20_000,
        "documents": 120,
        "dup_share": 0.2,
        "events": 1500,
    },
}

# Which generated inputs each workload reads.
INPUTS = {
    "wordcount_zipf": ("corpus",),
    "dedup_stream": ("documents", "events"),
}


def vocab(size: int = VOCAB_SIZE) -> list[str]:
    """Distinct alphabetic words, short for frequent ranks: rank i in
    base 25 with digits b..z, left-padded with 'a' to >= 3 letters
    (prefix-free, so exactly `size` distinct words)."""
    out = []
    for i in range(size):
        n, s = i, ""
        while True:
            s = chr(ord("b") + n % 25) + s
            n //= 25
            if n == 0:
                break
        out.append("a" * max(0, 3 - len(s)) + s)
    return out


def _zipf_ranks(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """n draws from a bounded Zipf(ZIPF_S) over ranks 0..size-1."""
    p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return rng.choice(size, size=n, p=p / p.sum())


def write_corpus(rng: np.random.Generator, out: str, n_tokens: int) -> None:
    words = [w.encode() for w in vocab()]
    # Every word occurs at least once, so the corpus has exactly the
    # reference's vocabulary; the rest is Zipf-distributed.  Drawing the
    # counts and shuffling the tokens is the same as drawing them iid.
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    counts = 1 + rng.multinomial(n_tokens - VOCAB_SIZE, p / p.sum())
    idx = np.repeat(np.arange(VOCAB_SIZE, dtype=np.int16), counts)
    rng.shuffle(idx)
    # Each token is its word's bytes plus one separator: a newline
    # after every WORDS_PER_LINE-th token and the last, else a space.
    lens = np.array([len(w) for w in words])
    table = np.zeros((VOCAB_SIZE, lens.max() + 1), dtype=np.uint8)
    for i, w in enumerate(words):
        table[i, : len(w)] = np.frombuffer(w, dtype=np.uint8)
    os.makedirs(out)
    # Lines of WORDS_PER_LINE tokens, split into CORPUS_PARTS files of
    # equal line counts; one file is built at a time.
    n_lines = -(-n_tokens // WORDS_PER_LINE)
    step = -(-n_lines // CORPUS_PARTS) * WORDS_PER_LINE
    for part in range(CORPUS_PARTS):
        toks = idx[part * step : (part + 1) * step]
        rows, n = table[toks], lens[toks]
        pos = np.arange(len(toks))
        ends = ((pos + 1) % WORDS_PER_LINE == 0) | (pos == len(toks) - 1)
        rows[pos, n] = np.where(ends, ord("\n"), ord(" "))
        with open(os.path.join(out, f"part-{part:05d}.txt"), "wb") as f:
            f.write(rows[np.arange(rows.shape[1]) <= n[:, None]].tobytes())
    with open(os.path.join(out, "..", "counts.json"), "w") as f:
        json.dump({"tokens": int(n_tokens), "counts": dict(zip(vocab(), counts.tolist()))}, f)


def _planted(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Which rows are planted near-copies.  Row 0 is always an
    original, and a copy is only ever made of an original, so every
    duplicate cluster is a star of depth one whatever the seed."""
    is_dup = np.zeros(n, dtype=bool)
    is_dup[rng.choice(np.arange(1, n), size=int(round(n * share)), replace=False)] = True
    return is_dup


def documents_table(rng: np.random.Generator, n: int, dup_share: float) -> pa.Table:
    words = np.array(vocab(DOC_VOCAB), dtype=object)
    texts: list[str] = []
    token_lists: list[np.ndarray] = []
    is_dup = _planted(rng, n, dup_share)
    for i in range(n):
        if is_dup[i]:
            toks = token_lists[rng.choice(np.flatnonzero(~is_dup[:i]))].copy()
            edits = rng.random(len(toks)) < DUP_EDIT_SHARE
            toks[edits] = _zipf_ranks(rng, int(edits.sum()), DOC_VOCAB)
        else:
            toks = _zipf_ranks(rng, int(rng.integers(DOC_MIN_WORDS, DOC_MAX_WORDS + 1)), DOC_VOCAB)
        token_lists.append(toks)
        texts.append(" ".join(words[toks].tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(DOC_LANGS, size=n).tolist(), pa.string()),
            "source": pa.array([f"src{i % DOC_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(EVENT_SPAN_S / n, size=n)
    ts_us = EVENT_START_US + np.floor(np.cumsum(gaps) * 1e6).astype(np.int64)
    n_users = max(1, n // EVENTS_PER_USER)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
        }
    )


@contextmanager
def _staged(out: str):
    """Write into `out` under a temporary name, then rename, so a cut
    run never leaves a half-written input behind."""
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    yield tmp
    os.rename(tmp, out)


def generate(out: str, workload: str, seed: int, scale: str = "bench", corpus_tokens: int | None = None) -> None:
    """Write `workload`'s inputs for `seed` into the new directory `out`;
    `corpus_tokens` overrides the scale's corpus size."""
    size = dict(SIZES[scale], **({"corpus_tokens": corpus_tokens} if corpus_tokens else {}))
    # One stream per workload, spawned in INPUTS order; each workload
    # draws its tables in a fixed order from its own stream.
    rngs = dict(zip(INPUTS, np.random.SeedSequence(seed % 2**64).spawn(len(INPUTS))))
    rng = np.random.default_rng(rngs[workload])
    with _staged(out) as tmp:
        for name in INPUTS[workload]:
            if name == "corpus":
                write_corpus(rng, os.path.join(tmp, "corpus"), size["corpus_tokens"])
            elif name == "documents":
                pq.write_table(documents_table(rng, size["documents"], size["dup_share"]), os.path.join(tmp, "documents.parquet"))
            elif name == "events":
                pq.write_table(events_table(rng, size["events"]), os.path.join(tmp, "events.parquet"))


def warmup_documents(out: str) -> None:
    """The fixed tiny documents table every set-up warms up on."""
    with _staged(out) as tmp:
        pq.write_table(documents_table(np.random.default_rng(0), 60, 0.2), os.path.join(tmp, "documents.parquet"))
