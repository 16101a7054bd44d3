"""Benchmark inputs: the `sequences` drop and the seeded query deck.

The input has the shape of the engine's `sequences` contract and of the
sf0.1 `documents` fixture that `bench.py` row-multiplies: 20 uniform
sources, 10-100 tokens per sequence drawn from a 31-word vocabulary
(hashed into the 50257-id range), and the fixture's event-time formula
`EPOCH0 + (doc_num * 48271 + 11) % HORIZON_S`. It is written as
`N_FILES` parquet files in doc order, so every file spans the whole
week and every source: a late file touches every tier bucket.

The data itself never depends on the seed, and neither does the split
into the 95 oldest files (committed) and the 5 newest (still pending,
the real-time tail). The seed picks the queries the client sends.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH0 = 1_704_067_200  # 2024-01-01T00:00:00Z, a multiple of 86400
HORIZON_S = 7 * 24 * 3600
N_SOURCES = 20
VOCAB = 50257
N_WORDS = 31  # distinct words in the sf0.1 documents text
DATA_SEED = 20240101

N_FILES = 100
N_PENDING = 5


@dataclass(frozen=True)
class InputSet:
    dir: str
    files: list[str]  # absolute paths, sorted
    n_seq: int
    n_tok: int
    bytes: int


def generate(out_dir: str, n_seq: int, n_files: int = N_FILES) -> InputSet:
    """Write ``n_seq`` sequences as ``n_files`` zstd parquet files."""
    if n_seq % n_files:
        raise ValueError("n_seq must be a multiple of n_files")
    rng = np.random.default_rng(DATA_SEED)
    vocab = rng.choice(VOCAB, size=N_WORDS, replace=False).astype(np.int32)
    names = pa.array([f"src{k}" for k in range(N_SOURCES)])
    per = n_seq // n_files
    os.makedirs(out_dir, exist_ok=True)
    files, n_tok = [], 0
    for f in range(n_files):
        doc = np.arange(f * per, (f + 1) * per, dtype=np.int64)
        ntok = rng.integers(10, 101, size=per).astype(np.int32)
        off = np.zeros(per + 1, dtype=np.int32)
        np.cumsum(ntok, out=off[1:])
        toks = vocab[rng.integers(0, N_WORDS, size=int(off[-1]))]
        table = pa.table(
            {
                "doc_id": pc.binary_join_element_wise(
                    "d", pa.array(doc).cast(pa.string()), ""
                ),
                "tokens": pa.ListArray.from_arrays(pa.array(off), pa.array(toks)),
                "n_tok": ntok,
                "source": names.take(pa.array(rng.integers(0, N_SOURCES, size=per))),
                "event_s": EPOCH0 + (doc * 48271 + 11) % HORIZON_S,
            }
        )
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        pq.write_table(table, path, compression="zstd")
        files.append(path)
        n_tok += int(off[-1])
    return InputSet(
        out_dir, files, n_seq, n_tok, sum(os.path.getsize(p) for p in files)
    )


def link(files: list[str], out_dir: str) -> int:
    """Hard-link ``files`` into the drop ``out_dir``; returns their bytes."""
    os.makedirs(out_dir, exist_ok=True)
    for p in files:
        os.link(p, os.path.join(out_dir, os.path.basename(p)))
    return sum(os.path.getsize(p) for p in files)


def pending_files(files: list[str]) -> list[str]:
    """The files that arrive after the base build: the newest ones."""
    return sorted(files)[-N_PENDING:]


# ---- query_mix -----------------------------------------------------------

_H, _D = 3600, 86400
#: One deck of 20 queries: 12 tier reads, 3 real-time reads and 5
#: rehydrations (60/15/25%). Tier and real-time cards fix the shape
#: (width_s, range_s, number of sources); together they cover every
#: width, range and source count a dashboard asks for, with 1-minute
#: buckets only over short ranges. The seed deals the deck in its own
#: order and picks the sources and time windows, so every seed sends
#: the same mix of shapes.
DECK = (
    [("tier", w, r, n) for w, r, n in [
        (60, 6 * _H, 1), (60, 6 * _H, 20), (60, _D, 3),
        (600, 6 * _H, 3), (600, _D, 20), (600, 7 * _D, 1),
        (1800, _D, 1), (1800, 7 * _D, 3),
        (3600, _D, 20), (3600, 7 * _D, 1),
        (86400, 7 * _D, 3), (86400, 7 * _D, 20)]]
    + [("realtime", w, r, n) for w, r, n in [
        (60, 6 * _H, 1), (600, _D, 3), (3600, 7 * _D, 20)]]
    + [("rehydrate", 0, 0, 1)] * 5
)


@dataclass(frozen=True)
class Query:
    kind: str  # tier | realtime | rehydrate
    sources: tuple[str, ...]
    width_s: int = 0
    t_min: int = 0
    t_max: int = 0


def query_stream(seed: int):
    """Endless seeded query sequence, dealt deck by deck."""
    rng = random.Random(seed)
    all_src = [f"src{k}" for k in range(N_SOURCES)]
    while True:
        deck = list(DECK)
        rng.shuffle(deck)
        for kind, width, span, n_src in deck:
            sources = tuple(sorted(rng.sample(all_src, n_src)))
            if kind == "rehydrate":
                yield Query(kind, sources)
                continue
            t_min = EPOCH0 + rng.randint(0, (HORIZON_S - span) // width) * width
            yield Query(kind, sources, width, t_min, t_min + span)
