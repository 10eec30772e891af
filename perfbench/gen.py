"""Seeded input generators.

Every generator is a pure function of ``(seed, stream, ...)``: the same
arguments give byte-identical arrays and texts, and each input kind
draws from its own ``numpy`` SeedSequence stream so adding a draw to
one kind never shifts another. The engine only ever sees the parquet
files written by :func:`write_vectors` / :func:`write_docs`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# independent SeedSequence streams per input kind
_CORPUS, _QUERIES, _BATCH, _DOCS, _DOCQ = 1, 2, 3, 4, 5

# norm of a vector's offset from its cluster center
SPREAD = 0.35

# documents: ~WORDS words over a VOCAB-word Zipf-like vocabulary; shares
# of originals copied exactly and nearly; edits per near copy 1..MAX_EDITS
WORDS, VOCAB = 60, 6000
EXACT_SHARE = NEAR_SHARE = 0.1
MAX_EDITS = 4


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


# --------------------------------------------------------------------------
# vectors


@dataclass(frozen=True)
class VectorCorpus:
    ids: np.ndarray  # int64 (n,)
    vecs: np.ndarray  # float32 (n, dim)
    labels: np.ndarray  # int32 (n,) — generating cluster
    centers: np.ndarray  # float32 (clusters, dim)


def vector_corpus(seed: int, rows: int, dim: int = 64, clusters: int = 32) -> VectorCorpus:
    """Gaussian clusters around unit-norm centers; ``label`` is the
    cluster id. Clustered structure is what makes LSH recall meaningful:
    a query's true neighbours share its cluster, so they tend to share
    its sign-bit bucket."""
    rng = _rng(seed, _CORPUS, rows, dim)
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, rows)
    vecs = centers[labels] + SPREAD / np.sqrt(dim) * rng.normal(size=(rows, dim))
    # shuffled ids: the physical row order must not encode the answer
    ids = rng.permutation(rows).astype(np.int64)
    return VectorCorpus(ids, vecs.astype(np.float32), labels.astype(np.int32),
                        centers.astype(np.float32))


@dataclass(frozen=True)
class AppendBatch:
    ids: np.ndarray
    vecs: np.ndarray
    labels: np.ndarray
    marker: int  # row index of the marker inside the batch


def append_batch(
    seed: int,
    step: int,
    first_id: int,
    rows: int,
    centers: np.ndarray,
    marker_norm: float,
) -> AppendBatch:
    """One ingest batch: ``rows`` clustered rows, one of which is a
    marker — a random direction scaled to ``marker_norm``. With
    ``marker_norm`` above every other row's norm, the marker's dot
    product with itself (``marker_norm**2``) beats its dot product with
    any other row by Cauchy–Schwarz, so an exact top-1 search for the
    marker vector must return the marker."""
    rng = _rng(seed, _BATCH, step)
    dim = centers.shape[1]
    labels = rng.integers(0, len(centers), rows)
    vecs = centers[labels] + SPREAD / np.sqrt(dim) * rng.normal(size=(rows, dim))
    marker = int(rng.integers(0, rows))
    m = rng.normal(size=dim)
    vecs[marker] = marker_norm * m / np.linalg.norm(m)
    labels[marker] = -1
    ids = np.arange(first_id, first_id + rows, dtype=np.int64)
    return AppendBatch(ids, vecs.astype(np.float32), labels.astype(np.int32), marker)


def write_vectors(path: str, ids, vecs, labels) -> None:
    """One parquet file ``(vec_id long, embedding array<float>, label
    int)`` — the schema of the engine's ``embeddings`` table."""
    dim = vecs.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(vecs).ravel()), dim
    ).cast(pa.list_(pa.float32()))
    table = pa.table(
        {"vec_id": pa.array(ids), "embedding": emb, "label": pa.array(labels)}
    )
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# documents

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def normalize(text: str) -> str:
    """Python twin of ``functions.text.normalized_text`` for ASCII
    input: lowercase, collapse whitespace runs, trim."""
    return _WS.sub(" ", text.lower()).strip()


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Python twin of ``functions.text.word_shingles``."""
    tk = normalize(text).split(" ") if normalize(text) else []
    if len(tk) >= n:
        return frozenset(" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1))
    return frozenset([" ".join(tk)]) if tk else frozenset()


@dataclass(frozen=True)
class DocCorpus:
    ids: np.ndarray  # int64
    texts: list[str]
    survivors: frozenset[int]  # min id per distinct normalized text
    near_pairs: frozenset[tuple[int, int]]  # planted (lo, hi) survivor ids
    near_jaccard: dict[tuple[int, int], float]  # true 3-shingle Jaccard


def doc_corpus(seed: int, originals: int) -> DocCorpus:
    """``originals`` random documents of ~``WORDS`` words over a
    Zipf-like vocabulary, plus planted variants of distinct originals:

    - exact duplicates (same words; some re-cased or re-spaced, which
      ``exact_dedup``'s normalization must see through);
    - near duplicates with 1..``MAX_EDITS`` substituted words, whose
      (original, copy) id pairs are the ground truth for MinHash/LSH.

    Each original gets at most one variant, so the ground truth is
    closed: the survivors are one id per original plus one per near
    copy, and the planted pairs are the only pairs sharing more than a
    few shingles. Ids are a random permutation, so the exact
    dedup survivor (min id of a group) is not always the original."""
    rng = _rng(seed, _DOCS)
    weights = 1.0 / (np.arange(VOCAB) + 20.0)
    weights /= weights.sum()
    lengths = rng.integers(WORDS - 15, WORDS + 16, originals)
    drawn = rng.choice(VOCAB, size=int(lengths.sum()), p=weights)
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(f"w{w}" for w in doc) for doc in np.split(drawn, cuts)]
    n_exact = int(originals * EXACT_SHARE)
    n_near = int(originals * NEAR_SHARE)
    src = rng.permutation(originals)[: n_exact + n_near]
    near_src = []
    for k, i in enumerate(src):
        tk = texts[i].split(" ")
        if k < n_exact:
            style = k % 3
            if style == 1:
                tk = [t.upper() if j % 7 == 0 else t for j, t in enumerate(tk)]
            text = ("  " if style == 2 else " ").join(tk)
        else:
            edits = 1 + (k - n_exact) % MAX_EDITS
            for pos in rng.choice(len(tk), size=edits, replace=False):
                tk[pos] = f"x{rng.integers(0, 10**6)}"
            text = " ".join(tk)
            near_src.append((int(i), len(texts)))
        texts.append(text)
    ids = rng.permutation(len(texts)).astype(np.int64)
    # survivors of exact dedup carry the min id of their text group
    keep: dict[str, int] = {}
    for i, t in enumerate(texts):
        nt = normalize(t)
        keep[nt] = min(keep.get(nt, int(ids[i])), int(ids[i]))
    pairs, jac = set(), {}
    for o, c in near_src:
        a = keep[normalize(texts[o])]
        b = int(ids[c])
        p = (min(a, b), max(a, b))
        pairs.add(p)
        sa, sb = shingles(texts[o]), shingles(texts[c])
        jac[p] = len(sa & sb) / len(sa | sb)
    return DocCorpus(ids, texts, frozenset(keep.values()), frozenset(pairs), jac)


def doc_queries(seed: int, count: int, dim: int) -> np.ndarray:
    """Query vectors for batch kNN over hash embeddings (which lie in
    ``[0, 1)^dim``): uniform in the same cube, as float64."""
    return _rng(seed, _DOCQ, count, dim).random((count, dim))


def write_docs(path: str, ids, texts) -> None:
    """One parquet file ``(doc_id long, text string)`` — the engine's
    ``documents`` shape restricted to the columns the pipeline reads."""
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}), path
    )


def write_queries(path: str, vecs: np.ndarray) -> None:
    """One parquet file ``(query_id long, query_vec array<double>)``."""
    dim = vecs.shape[1]
    qv = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(vecs, dtype=np.float64).ravel()), dim
    ).cast(pa.list_(pa.float64()))
    pq.write_table(
        pa.table({"query_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
                  "query_vec": qv}),
        path,
    )
