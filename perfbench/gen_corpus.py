"""Seeded inputs for the `llm_curation` workload.

`documents.parquet`: base documents whose tokens are drawn from a
two-regime Zipf vocabulary (the recipe of tools/make_sfn_text.py:
rank-frequency 1/r up to a 30k-rank knee, 1/r^1.9 beyond it, words
spelled as bijective base-20 over an English-letter-frequency
alphabet), plus two planted families: exact copies of 10% of the base
documents and near-copies of another 10% with 2% of their tokens
replaced (word-trigram Jaccard ~0.9, above the 0.8 the near-dup
queries verify at, so recall measures the detector, not the
threshold). Document ids are a seeded permutation, so copies never sit
next to their originals.

`embeddings.parquet`: clustered 64-dim unit vectors (10 centres, one
label per centre, within-cluster cosine around 0.5).

`planted.json`: the planted (original, copy, kind) pairs, for recall.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

S1, S2, KNEE, VMAX = 1.0, 1.9, 30_000, 5_000_000
LETTERS = np.array(list("etaoinshrdlucmfwypbg"), dtype=object)
LANGS = np.array(["en", "en", "zh", "de", "fr", "es"], dtype=object)
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
NEAR_EDIT = 0.02
DIM = 64
CENTRES = 10


def _spell(ranks: np.ndarray) -> np.ndarray:
    out = np.full(len(ranks), "", dtype=object)
    x = ranks.astype(np.int64).copy()
    while (m := x > 0).any():
        out[m] = LETTERS[(x[m] - 1) % 20] + out[m]
        x[m] = (x[m] - 1) // 20
    return out


def _zipf_cdf() -> np.ndarray:
    r = np.arange(1, VMAX + 1, dtype=np.float64)
    w = np.where(r <= KNEE, 1.0 / r**S1, KNEE ** (S2 - S1) / r**S2)
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def make_corpus(seed: int, n_base: int, n_vec: int):
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    cdf = _zipf_cdf()
    lens = np.clip(rng.lognormal(3.85, 0.35, n_base).astype(np.int64), 20, 200)
    docs = [
        _spell(np.searchsorted(cdf, rng.random(k)) + 1) for k in lens
    ]
    n_exact = int(n_base * EXACT_SHARE)
    n_near = int(n_base * NEAR_SHARE)
    src = rng.choice(n_base, n_exact + n_near, replace=False)
    planted = []
    for j, i in enumerate(src):
        toks = docs[i].copy()
        kind = "exact"
        if j >= n_exact:
            kind = "near"
            k = max(1, int(round(len(toks) * NEAR_EDIT)))
            pos = rng.choice(len(toks), k, replace=False)
            toks[pos] = _spell(np.searchsorted(cdf, rng.random(k)) + 1)
        planted.append((int(i), len(docs), kind))
        docs.append(toks)
    ids = rng.permutation(len(docs)).astype(np.int64)
    text = pa.array([" ".join(t) for t in docs], pa.string())
    documents = pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), len(docs))]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        }
    ).sort_by("doc_id")
    pairs = [
        {"a": int(min(ids[i], ids[c])), "b": int(max(ids[i], ids[c])), "kind": kind}
        for i, c, kind in planted
    ]

    centres = rng.normal(size=(CENTRES, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, CENTRES, n_vec)
    x = centres[label] + rng.normal(size=(n_vec, DIM)) / np.sqrt(DIM)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": rng.permutation(n_vec).astype(np.int64),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return documents, embeddings, pairs


def write(seed: int, out_dir: str, n_base: int, n_vec: int) -> dict:
    """Write documents/embeddings/planted.json; returns sizes."""
    os.makedirs(out_dir, exist_ok=True)
    documents, embeddings, pairs = make_corpus(seed, n_base, n_vec)
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(pairs, f)
    return {
        "documents": documents.num_rows,
        "embeddings": embeddings.num_rows,
        "planted_pairs": len(pairs),
    }

