"""Synthesize a VOCABULARY-REALISTIC documents corpus for the text-
family scale evidence (text_pmi, text_bpe_*, text_tfidf, ...).

Why this exists (r10 verdict, missing #1): a corpus scaled up as
key-shifted COPIES of sf0.1 is the right fan-out model for relational
operators (joins fan out at unchanged selectivity), but for
vocabulary-grain text statistics it distorts the measurement — the
100-copy corpus grows the vocabulary by copy prefixes instead of by
Heaps' law, so the vocab-grain exchanges that dominate text_pmi / BPE
scale on an artifact of the fixture, not on how a real corpus grows.

This generator samples tokens i.i.d. from a bounded TWO-REGIME Zipf
distribution (rank-frequency P(r) ~ 1/r^s1 for the ~30k-rank core
vocabulary, ~1/r^s2 with s2=1.9 for the hapax tail, continuous at
the knee; rank cap 5M) via inverse-CDF, so the OBSERVED vocabulary
grows naturally with corpus size — Heaps' law V(n) ~ K*n^beta
emerges from the sampling (Baeza-Yates & Navarro 2000: beta ~ 1/s
for a pure power law; the two-regime form pins beta ~ 1/s2 ~ 0.5-0.6
in the tail, matching empirical English corpora, where a single
s=1.05 regime would grow vocabulary near-linearly). Spellings
are the bijective-base-20 encoding of the rank over an
English-letter-frequency alphabet, so frequent words are short (the
Zipf length correlation BPE exploits) and the character-pair
distribution is skewed like text, not uniform. A light collocation
pass (8% of positions force the next token to the partner rank r+1)
gives text_pmi a real signal: collocation frequency itself follows
Zipf, so the PMI top-k is non-degenerate.

Output: <out_dir>/documents.parquet with the driver schema
(doc_id, text, lang, source, n_chars), 5k-row row groups
(splittable scans — the spread-layout posture of r10's re-baseline),
streamed chunk-at-a-time so sf100-equivalents never hold the corpus
in memory. Deterministic for a given (sf, seed): both engines read
the same file, so oracle parity is preserved by construction.
sf1 = 50_000 docs (10x sf0.1's 5_000).

Usage: python tools/make_sfn_text.py <sf> <out_dir>
  e.g.  python tools/make_sfn_text.py 10 /tmp/text_sf10
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

S1 = 1.0                # core-vocabulary Zipf exponent
S2 = 1.9                # hapax-tail exponent (Heaps beta ~ 1/S2)
KNEE = 30_000           # rank where the regimes meet (continuous)
VMAX = 5_000_000        # rank cap (inverse-CDF table size)
DOCS_PER_SF = 50_000    # sf1 == 10x sf0.1's 5_000 docs
CHUNK_DOCS = 50_000     # docs generated per streamed chunk
ROW_GROUP = 5_000       # ~10 row groups per sf1 (splittable scans)
COLLOCATE_P = 0.08      # fraction of positions forced to partner rank
LETTERS = np.array(list("etaoinshrdlucmfwypbg"), dtype="<U1")
LANGS = np.array(["en", "zh", "de", "fr", "es"])
SEED = 42


def spell(ranks: np.ndarray) -> np.ndarray:
    """Bijective base-20 spelling of each rank (vectorized): rank 1
    -> 'e', 21 -> 'ee', ... Frequent ranks get short words; 5M ranks
    fit in <= 6 letters. Returns an object array of str."""
    out = np.empty(len(ranks), dtype=object)
    out[:] = ""
    x = ranks.astype(np.int64).copy()
    while True:
        m = x > 0
        if not m.any():
            break
        d = (x[m] - 1) % 20
        out[m] = LETTERS[d].astype(object) + out[m]
        x[m] = (x[m] - 1) // 20
    return out


def gen_chunk(
    cdf: np.ndarray, chunk_idx: int, n_docs: int, id0: int
) -> pa.Table:
    rng = np.random.Generator(np.random.PCG64([SEED, chunk_idx]))
    lens = np.clip(
        rng.lognormal(3.85, 0.35, n_docs).astype(np.int64), 20, 200
    )
    n_tok = int(lens.sum())
    ranks = np.searchsorted(cdf, rng.random(n_tok)) + 1
    # collocation pass: some positions copy their predecessor's
    # partner (rank+1) — Zipf-distributed bigram signal for PMI
    coll = rng.random(n_tok) < COLLOCATE_P
    coll[0] = False
    ranks[1:][coll[1:]] = ranks[:-1][coll[1:]] + 1
    uniq, inv = np.unique(ranks, return_inverse=True)
    flat = pa.array(spell(uniq)[inv], type=pa.string())
    offsets = pa.array(
        np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    )
    text = pc.binary_join(
        pa.ListArray.from_arrays(offsets, flat), " "
    )
    return pa.table(
        {
            "doc_id": pa.array(
                np.arange(id0, id0 + n_docs, dtype=np.int64)
            ),
            "text": text,
            "lang": pa.array(
                LANGS[rng.integers(0, len(LANGS), n_docs)]
            ),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 10, n_docs)]
            ),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        }
    ), uniq


def main() -> None:
    sf = float(sys.argv[1])
    out_dir = sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    n_docs = int(sf * DOCS_PER_SF)

    r = np.arange(1, VMAX + 1, dtype=np.float64)
    w = np.where(
        r <= KNEE,
        1.0 / r**S1,
        KNEE ** (S2 - S1) / r**S2,  # continuous at the knee
    )
    cdf = np.cumsum(w)
    cdf /= cdf[-1]

    seen = np.zeros(VMAX + 2, dtype=bool)  # Heaps-growth report
    writer = None
    done = 0
    chunk = 0
    path = os.path.join(out_dir, "documents.parquet")
    while done < n_docs:
        nd = min(CHUNK_DOCS, n_docs - done)
        tbl, uniq = gen_chunk(cdf, chunk, nd, done)
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema)
        writer.write_table(tbl, row_group_size=ROW_GROUP)
        seen[uniq] = True
        done += nd
        chunk += 1
        print(
            f"docs {done}/{n_docs}  vocab {int(seen.sum())}",
            file=sys.stderr,
        )
    if writer is not None:
        writer.close()


if __name__ == "__main__":
    main()
