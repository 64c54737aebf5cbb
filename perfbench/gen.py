"""Seeded inputs and the exact answers the correctness checks compare with.

Every input is a pure function of the workload seed: the same seed writes
byte-identical parquet files (``digest`` proves it) and yields the same
numpy arrays, which the checks use as ground truth. The program under test
only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fact table shape (ingest_skewed, rollup_queries).
FACT_ROWS = 200_000
FACT_DAYS = 8
FACT_KEYS = 128          # Zipf(1.1): a heavy head, a long tail of tiny groups
USER_DOMAIN = 50_000_000  # wide user-id domain: head groups overflow theta k
ITEMS = 20_000           # Zipf(1.2) item ids for the long freq-items measure
FACT_FILES = 4           # fixed, not nproc: the same work on every machine

# Corpus shape (the dedup probe in the traced ingest_skewed run).
DOCS = 2_000
DOC_TOKENS = 120
VOCAB = 20_000
DUP_SHARE = 0.10          # planted near-duplicates
MAX_EDIT = 0.10           # each planted copy edits up to this share of tokens
CORPUS_FILES = 4
SHINGLE_N = 3


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _write(table: pa.Table, out_dir: str, files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths


def digest(paths: list[str]) -> str:
    """sha256 over the written files' names and bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@dataclass
class Fact:
    day: np.ndarray
    key: np.ndarray
    value: np.ndarray
    user_id: np.ndarray
    item: np.ndarray
    paths: list[str]

    @property
    def rows(self) -> int:
        return int(self.day.size)


def fact_table(seed: int, out_dir: str) -> Fact:
    """Zipf-skewed fact rows: (day, key, value, user_id, item)."""
    rng = np.random.default_rng([seed, 1])
    n = FACT_ROWS
    day = rng.integers(0, FACT_DAYS, n).astype(np.int32)
    key = rng.choice(FACT_KEYS, size=n, p=_zipf_weights(FACT_KEYS, 1.1)) \
             .astype(np.int64)
    value = rng.lognormal(3.0, 1.0, n)
    user_id = rng.integers(0, USER_DOMAIN, n).astype(np.int64)
    item = rng.choice(ITEMS, size=n, p=_zipf_weights(ITEMS, 1.2)) \
              .astype(np.int64)
    table = pa.table({"day": day, "key": key, "value": value,
                      "user_id": user_id, "item": item})
    return Fact(day, key, value, user_id, item,
                _write(table, out_dir, FACT_FILES))


@dataclass
class Corpus:
    tokens: np.ndarray      # (docs, DOC_TOKENS) vocabulary ids
    paths: list[str]

    @property
    def rows(self) -> int:
        return int(self.tokens.shape[0])


def corpus(seed: int, out_dir: str) -> Corpus:
    """Zipf-vocabulary documents; the last DUP_SHARE of them are copies of
    earlier documents with a uniform 0.5%..MAX_EDIT share of tokens
    replaced, so true pairs span Jaccard ~0.5..1 over word 3-grams."""
    rng = np.random.default_rng([seed, 2])
    w = _zipf_weights(VOCAB, 1.0)
    toks = rng.choice(VOCAB, size=(DOCS, DOC_TOKENS), p=w)
    ndup = int(DOCS * DUP_SHARE)
    bases = rng.choice(DOCS - ndup, ndup, replace=False)
    rates = rng.uniform(0.005, MAX_EDIT, ndup)
    for j, (b, r) in enumerate(zip(bases, rates)):
        d = toks[b].copy()
        m = rng.random(DOC_TOKENS) < r
        d[m] = rng.choice(VOCAB, int(m.sum()), p=w)
        toks[DOCS - ndup + j] = d
    words = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    text = [" ".join(words[row]) for row in toks]
    table = pa.table({"doc_id": np.arange(DOCS, dtype=np.int64),
                      "text": text})
    return Corpus(toks, _write(table, out_dir, CORPUS_FILES))


# ------------------------------------------------------------ exact answers

def shingle_sets(tokens: np.ndarray) -> list[np.ndarray]:
    """Distinct word-3-gram ids per document (sorted) — the same sets the
    program builds from whitespace tokens, encoded as integers."""
    v = np.int64(VOCAB)
    g = (tokens[:, :-2] * v + tokens[:, 1:-1]) * v + tokens[:, 2:]
    return [np.unique(row) for row in g]


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    inter = np.intersect1d(a, b, assume_unique=True).size
    return float(inter) / float(a.size + b.size - inter)


def pairs_at_least(sets: list[np.ndarray], t: float) -> set[tuple[int, int]]:
    """Every document pair with Jaccard >= t, exactly (prefix filtering:
    a pair with J >= t shares a shingle among the first
    |A| - ceil(t|A|) + 1 of each side's shingles in rarest-first order)."""
    allg = np.concatenate(sets)
    uniq, freq = np.unique(allg, return_counts=True)
    index: dict[int, list[int]] = {}
    cands: set[tuple[int, int]] = set()
    for doc, s in enumerate(sets):
        f = freq[np.searchsorted(uniq, s)]
        order = np.lexsort((s, f))
        plen = s.size - int(np.ceil(t * s.size)) + 1
        for g in s[order[:plen]].tolist():
            for other in index.setdefault(g, []):
                cands.add((other, doc))
            index[g].append(doc)
    return {(a, b) for a, b in cands if jaccard(sets[a], sets[b]) >= t}
