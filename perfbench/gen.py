"""Seeded input generator for the benchmark workloads.

Everything the engine sees is written here as parquet; the engine never
sees the seed. Same seed, same bytes.

- Vectors are Gaussian clusters (unit-normalised, COSINE metric).
- Text draws words from a fixed Zipf vocabulary of VOCAB_SIZE terms, so
  BM25 posting lists are selective: a mid-rank term is in a few percent of
  documents, not in most of them.
- Curation corpora carry planted exact-duplicate and near-duplicate
  clusters with known membership. Every near copy gets the same fixed edit
  rate, so the density of true pairs stays constant as the corpus grows
  (no clone cliques whose pair count grows quadratically).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 12_000
ZIPF_S = 1.05
# Top Zipf ranks are English function words, so Gopher's stop-word rule and
# the text-filter stop-word handling see realistic text.
FUNCTION_WORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or",
    "his", "from", "at", "which", "but", "have", "an", "had", "they",
)
_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "st", "tr", "pl", "gr")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ou", "ea")


def _content_word(k: int) -> str:
    """Deterministic pronounceable word for vocabulary slot k (>= 3 letters,
    unique per k)."""
    syll = []
    while True:
        k, r = divmod(k, len(_ONSETS) * len(_NUCLEI))
        syll.append(_ONSETS[r // len(_NUCLEI)] + _NUCLEI[r % len(_NUCLEI)])
        if k == 0:
            break
    return "".join(syll) + "n"


VOCAB = np.array(list(FUNCTION_WORDS)
                 + [_content_word(k) for k in range(VOCAB_SIZE - len(FUNCTION_WORDS))],
                 dtype=object)
_RANK_P = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
_RANK_P /= _RANK_P.sum()
_RANK_CDF = np.cumsum(_RANK_P)


def zipf_words(rng: np.random.Generator, n: int) -> np.ndarray:
    """n vocabulary indices drawn from the Zipf distribution."""
    return np.minimum(np.searchsorted(_RANK_CDF, rng.random(n)), VOCAB_SIZE - 1)


def texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = zipf_words(rng, int(lens.sum()))
    words = VOCAB[idx]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    return out


def gaussian_clusters(rng: np.random.Generator, n: int, dim: int,
                      centers: np.ndarray, spread: float) -> np.ndarray:
    """n unit vectors around randomly chosen centers."""
    pick = rng.integers(0, len(centers), n)
    v = centers[pick] + spread * rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


# ---- collections (search workloads) ----------------------------------------

COLLECTION_SCHEMA = pa.schema([
    ("id", pa.string()),
    ("chunk", pa.string()),
    ("vector", pa.list_(pa.float32())),
    ("meta", pa.map_(pa.string(), pa.string())),
])
META_SOURCES = ("web", "wiki", "news", "code")


@dataclass
class Collection:
    """Generated state the queries need next to the parquet files."""

    centers: np.ndarray


def _meta(rng: np.random.Generator, n: int) -> list[list[tuple[str, str]]]:
    src = rng.integers(0, len(META_SOURCES), n)
    return [[("source", META_SOURCES[s]), ("lang", "en")] for s in src]


def collection_table(rng: np.random.Generator, ids: list[str], dim: int,
                     centers: np.ndarray) -> pa.Table:
    n = len(ids)
    vecs = gaussian_clusters(rng, n, dim, centers, spread=0.35)
    return pa.Table.from_pydict({
        "id": ids,
        "chunk": texts(rng, n, 24, 48),
        "vector": list(vecs),
        "meta": _meta(rng, n),
    }, schema=COLLECTION_SCHEMA)


def write_collection(path: str, seed: int, n_rows: int, dim: int,
                     n_centers: int = 48) -> Collection:
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, dim))
    write_parts(collection_table(rng, [f"doc{i:07d}" for i in range(n_rows)],
                                 dim, centers), path)
    return Collection(centers=centers)


def write_upsert_batch(path: str, rng: np.random.Generator, coll: Collection,
                       dim: int, n_live: int, n_rows: int,
                       update_frac: float) -> list[str]:
    """One insert batch over keys doc0..doc{n_live-1}: the first
    update_frac of its rows rewrite live keys (new vector, new text), the
    rest are new keys. Returns the batch's ids in that order."""
    n_upd = int(round(n_rows * update_frac))
    upd = rng.choice(n_live, n_upd, replace=False)
    new = np.arange(n_live, n_live + n_rows - n_upd)
    ids = [f"doc{i:07d}" for i in np.concatenate([upd, new])]
    pq.write_table(collection_table(rng, ids, dim, coll.centers), path)
    return ids


def query_vectors(rng: np.random.Generator, coll: Collection, n: int,
                  dim: int) -> np.ndarray:
    return gaussian_clusters(rng, n, dim, coll.centers, spread=0.35)


def query_texts(rng: np.random.Generator, n: int, words: int = 3) -> list[str]:
    """Query strings of mid-frequency content terms (Zipf ranks 50-2000):
    selective posting lists, and never stop words."""
    ranks = rng.integers(50, 2000, (n, words))
    return [" ".join(VOCAB[r]) for r in ranks]


# ---- curation corpora ------------------------------------------------------

CORPUS_SCHEMA = pa.schema([("id", pa.int64()), ("text", pa.string())])
EXACT_FRAC = 0.04      # share of documents that get one exact copy
NEAR_FRAC = 0.06       # share of documents that seed a near-dup cluster
NEAR_COPIES = 2        # near copies per seed document
NEAR_EDIT_RATE = 0.04  # fixed per-copy word substitution rate
PII_FRAC = 0.05        # share of documents carrying an identifier


@dataclass
class Corpus:
    n_docs: int
    exact_groups: list[list[int]]  # ids with identical normalised text
    near_groups: list[list[int]]   # seed id + its near copies


def _edit(rng: np.random.Generator, words: list[str]) -> list[str]:
    out = list(words)
    k = max(1, int(round(len(out) * NEAR_EDIT_RATE)))
    for pos in rng.choice(len(out), k, replace=False):
        out[pos] = VOCAB[zipf_words(rng, 1)[0]]
    return out


def _pii(rng: np.random.Generator) -> str:
    if rng.random() < 0.5:
        return f"user{int(rng.integers(10**6))}@example.org"
    return f"call 555-{int(rng.integers(100, 1000))}-{int(rng.integers(1000, 10000))}"


def write_corpus(path: str, seed: int, n_base: int) -> Corpus:
    """n_base unique documents plus planted duplicates, ids shuffled."""
    rng = np.random.default_rng(seed)
    base = texts(rng, n_base, 60, 140)
    for i in np.flatnonzero(rng.random(n_base) < PII_FRAC):
        base[i] = base[i] + " " + _pii(rng)
    docs: list[str] = list(base)
    exact_src = rng.choice(n_base, int(n_base * EXACT_FRAC), replace=False)
    pool = np.setdiff1d(np.arange(n_base), exact_src)
    near_src = rng.choice(pool, int(n_base * NEAR_FRAC), replace=False)
    exact_groups, near_groups = [], []
    for s in exact_src:
        # case and whitespace changes survive dedup_exact's normalisation
        docs.append("  " + base[s].upper().replace(" ", "   ", 3))
        exact_groups.append([int(s), len(docs) - 1])
    for s in near_src:
        words = base[s].split(" ")
        grp = [int(s)]
        for _ in range(NEAR_COPIES):
            docs.append(" ".join(_edit(rng, words)))
            grp.append(len(docs) - 1)
        near_groups.append(grp)
    perm = rng.permutation(len(docs))  # position -> id
    table = pa.Table.from_pydict(
        {"id": perm.astype(np.int64), "text": docs}, schema=CORPUS_SCHEMA)
    write_parts(table, path)
    return Corpus(
        n_docs=len(docs),
        exact_groups=[[int(perm[p]) for p in g] for g in exact_groups],
        near_groups=[[int(perm[p]) for p in g] for g in near_groups],
    )


def write_parts(table: pa.Table, path: str, parts: int = 8) -> None:
    """Write table as a directory of `parts` parquet files, so scans split
    across tasks as a real multi-file dataset would."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
