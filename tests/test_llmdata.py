"""Cross-checks for the approximate (rows-only) LLM-data operators:
each is verified against its exact, oracle-checked counterpart —
MinHash-LSH and SimHash against exact n-gram Jaccard, LSH top-k recall
against brute-force top-k (SURVEY.md §5 strategy extended to Phase 5).
"""

from __future__ import annotations

import pytest

from .conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    from bitcoin_olap_spark.catalog import table

    return table(spark, SF_ORACLE, "documents")


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates verified at the same threshold must reproduce the
    exact Jaccard pair set: verification makes precision exact, and with
    16 bands of 4 rows, P(candidate) ≈ 1-(1-j^4)^16 > 0.9999 at j=0.8 —
    so on ~25 planted pairs, recall misses are overwhelmingly unlikely."""
    from bitcoin_olap_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert exact, "testdata should contain planted near-dup pairs"
    assert approx <= exact  # exact-verify step guarantees precision
    recall = len(approx & exact) / len(exact)
    assert recall == 1.0, f"LSH recall {recall}: missed {exact - approx}"


def test_simhash_finds_planted_near_dups(spark, docs):
    """SimHash Hamming<=3 pairs should overlap heavily with the
    highest-Jaccard planted pairs and be symmetric-free (a<b)."""
    from bitcoin_olap_spark.operators.dedup import jaccard_pairs, simhash_pairs

    sim = simhash_pairs(docs, "doc_id", "text", max_hamming=7).collect()
    pairs = {(r.doc_a, r.doc_b) for r in sim}
    assert all(a < b for a, b in pairs)
    exact95 = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.95).collect()
    }
    # near-identical documents must collide in simhash space
    missed = exact95 - pairs
    assert len(missed) <= max(1, len(exact95) // 5), (
        f"simhash missed too many near-identical pairs: {missed}"
    )


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Approximate top-10 should recover a solid fraction of the exact
    top-10 (multi-probe over 2^6 buckets on 500 vectors)."""
    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.vectors import topk_bruteforce, topk_lsh
    from pyspark.sql import functions as F

    emb = table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in topk_bruteforce(emb, queries, "vec_id", "embedding", k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in topk_lsh(
            emb, queries, "vec_id", "embedding", k=10, num_planes=6
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH top-k recall too low: {recall}"


def test_exact_dedup_finds_planted_copies(spark, docs):
    """Self-planted exact copies collapse to one fingerprint with
    n_copies=2 and the original id as survivor."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.dedup import exact_dedup

    dupes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    res = exact_dedup(
        docs.select("doc_id", "text").unionByName(dupes), "doc_id", "text"
    )
    two = res.filter(F.col("n_copies") >= 2)
    assert two.count() == dupes.count()
    assert two.filter(F.col("keep_id") >= 100000).count() == 0


def test_kmeans_assignment_invariants(spark):
    """KMeans assignment must be total (every vector, one cluster in
    [0,k)), deterministic for the fixed seed, and distances
    non-negative. (The testdata's label column is NOT geometric
    structure — intra vs inter label cosine is 0.0016 vs 0.0003 — so
    purity cannot be asserted; determinism and totality can.)"""
    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.ml import kmeans_assign

    sf = "/root/testdata/sf0.01"
    emb = table(spark, sf, "embeddings")
    run = lambda: {
        r["vec_id"]: (r["cluster"], round(r["dist"], 9))
        for r in kmeans_assign(emb, "vec_id", "embedding", k=10).collect()
    }
    a, b = run(), run()
    assert a == b  # fixed seed -> reproducible end to end
    n = emb.count()
    assert len(a) == n
    assert all(0 <= c < 10 and d >= 0 for c, d in a.values())


def test_kmeans_envelope_all_true(spark):
    """The registered ml_kmeans envelope (per-vector totality +
    cluster-range + distance-sanity + the Lloyd-optimality bound
    SSE <= SSE(k=1)) must hold everywhere: final centroids are
    cluster means, and per-cluster SSE around the mean is <= SSE
    around the global mean — a real fit can only make the k=1
    objective an upper bound."""
    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    rows = all_queries()["ml_kmeans"](spark, sf).collect()
    n = table(spark, sf, "embeddings").count()
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    assert all(
        r["cluster_in_range"] and r["dist_ok"] and r["sse_le_k1"]
        for r in rows
    )


def test_exact_allpairs_gate_redirects_large_corpora(spark):
    """The exact all-pairs cosine tier must refuse unbounded inputs:
    block decomposition distributes O(N^2) work but cannot shrink it,
    so above max_rows the operator raises and points at the
    LSH/IVF scale tier (VERDICT r2 item 5)."""
    import pytest

    from bitcoin_olap_spark.operators import vectors as V

    # unit-scale components — the fixed-point fold documents products
    # * 1e16 must stay under 2^63
    df = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "array(cast(id as float) / 50.0f, 1.0f) AS embedding",
    )
    with pytest.raises(ValueError, match="dedup_minhash_lsh"):
        V.cosine_pairs_exact_blocked(
            df, "vec_id", "embedding", threshold=0.5, max_rows=10
        )
    # bounded inputs still run
    assert (
        V.cosine_pairs_exact_blocked(
            df, "vec_id", "embedding", threshold=-1.0, max_rows=50
        ).count()
        == 50 * 49 // 2
    )


def test_ivf_exact_recall_vs_bruteforce(spark):
    """The oracle-exact IVF path (fixed-point Lloyd quantizer, integer
    list/probe keys) must also clear the random-probe baseline
    (nprobe/n_centroids = 0.25) by a clear margin on the exact
    top-10 — recall is the property the oracle compare cannot check
    (it proves the pipeline computes ITS OWN spec exactly; this
    proves the spec finds real neighbors).

    The queries are vec_id 300-319, outside the 16 lowest ids that
    seed Lloyd's centroids: a seed query finds its own neighborhood
    in the list it seeded, which inflates recall (about 0.84 for
    vec_id < 5 at sf0.01, against about 0.5 here)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.vectors import (
        ivf_topk_exact,
        topk_bruteforce,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id").between(300, 319))
    exact = {
        (r.query_id, r.vec_id)
        for r in topk_bruteforce(
            emb, queries, "vec_id", "embedding", k=10
        ).collect()
    }
    assert len(exact) == 20 * 10
    approx_rows = ivf_topk_exact(
        emb, queries, "vec_id", "embedding",
        k=10, n_centroids=16, nprobe=4, iters=2,
    ).collect()
    approx = {(r.query_id, r.vec_id) for r in approx_rows}
    assert all(1 <= r.rank <= 10 for r in approx_rows)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"exact-IVF top-k recall too low: {recall}"


def test_pq_topk_recall_and_training(spark):
    """PQ/ADC over 16-codeword x 8-subspace trained codebooks. Two
    claims: (1) recall@10 vs exact brute force clears 0.2 on this
    near-random unit-norm corpus (the hardest regime for PQ — no
    cluster structure for codewords to exploit; sim_topk_lsh's
    multi-probe scores ~0.3 here for the same reason), and (2) the
    2-round pq_lloyd_fixed codebook strictly reduces total
    quantization error vs the lowest-id seed codebook — training
    does real work even when recall saturates."""
    import numpy as np
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.ml.clustering import (
        pq_lloyd_fixed,
        quantize_fixed,
    )
    from bitcoin_olap_spark.operators.vectors import (
        pq_topk_adc,
        topk_bruteforce,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    base = quantize_fixed(emb, "vec_id", "embedding")
    seeds = [
        list(r["xq"])
        for r in base.orderBy("vec_id").limit(16).collect()
    ]
    trained = pq_lloyd_fixed(base, "vec_id", 16, 8, 2, dim=64)

    X = np.stack(
        [np.asarray(r["xq"]) for r in base.select("xq").collect()]
    ).astype(np.int64)

    def qerr(cents):
        C = np.asarray(cents, dtype=np.int64).reshape(16, 8, 8)
        Xs = X.reshape(len(X), 8, 8)
        d = ((Xs[:, None, :, :] - C[None, :, :, :]) ** 2).sum(axis=3)
        return int(d.min(axis=1).sum())

    assert qerr(trained) < qerr(seeds), "training did not reduce error"

    exact = {
        (r.query_id, r.vec_id)
        for r in topk_bruteforce(
            emb, queries, "vec_id", "embedding", k=10
        ).collect()
    }
    approx_rows = pq_topk_adc(
        emb, queries, "vec_id", "embedding",
        k=10, m=8, n_codewords=16, codebook=trained,
    ).collect()
    approx = {(r.query_id, r.vec_id) for r in approx_rows}
    assert all(1 <= r.rank <= 10 for r in approx_rows)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"PQ/ADC top-k recall too low: {recall}"


def test_pq_lloyd_rejects_small_corpus(spark):
    """k > corpus rows raises a clear error, not an IndexError."""
    import pytest
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.ml.clustering import (
        pq_lloyd_fixed,
        quantize_fixed,
    )

    emb = table(spark, SF_ORACLE, "embeddings").filter(
        F.col("vec_id") < 3
    )
    base = quantize_fixed(emb, "vec_id", "embedding")
    with pytest.raises(ValueError, match="corpus has only"):
        pq_lloyd_fixed(base, "vec_id", 16, 8, 1, dim=64)


def test_pca_power_rayleigh_monotone(spark):
    """Power iteration's invariant on ANY spectrum: the Rayleigh
    quotient v'Gv/v'v is non-decreasing per round (strictly, off a
    fixed point). The corpus is near-isotropic (lam2/lam1 ~ 0.98),
    so closeness-to-eigenvector is NOT testable at 3 rounds — the
    monotone variance climb is. Replays the exact integer recurrence
    in numpy and checks each round climbs."""
    import numpy as np

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.queries.analytics import (
        _PCA_ITERS,
        _PCA_US,
        _PCA_VS,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    X = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()]
    )
    Xq = np.floor(X.astype(np.float64) * (1 << 20)).astype(np.int64)
    G = Xq.astype(object).T @ Xq.astype(object)  # exact big-int

    def rq(v):
        v = v.astype(object)
        return float((v @ G @ v) / (v @ v))

    v = np.full(64, _PCA_VS, dtype=np.int64)
    last = rq(v)
    for _ in range(_PCA_ITERS):
        u = (Xq.astype(object) @ v.astype(object))
        u = np.array([int(x) // _PCA_US for x in u], dtype=object)
        w = Xq.astype(object).T @ u
        wmax = max(abs(int(x)) for x in w)
        v = np.array(
            [int(x) * _PCA_VS // wmax for x in w], dtype=np.int64
        )
        cur = rq(v)
        assert cur > last, f"Rayleigh quotient fell: {cur} <= {last}"
        last = cur


def test_containment_finds_planted_superset(spark):
    """A short doc whose trigrams are a strict subset of a long doc
    must surface as (short contained-in long) = 1.0 and NOT the
    reverse direction; Jaccard at the same threshold misses it."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(200))
    short_text = " ".join(f"w{i}" for i in range(40, 80))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "x y z q r s t u v")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.9
        ).collect()
    }
    assert got == {(2, 1): 1.0}
    jac = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9)
    assert jac.count() == 0


def test_pq_topk_adc_string_ids(spark):
    """pq_topk_adc must carry the CALLER's id type end to end (the
    sibling kernels pq_codes_arrow/assign_fixed_arrow already do) —
    string doc ids are as legal as longs in the LUT broadcast, the
    Arrow prune schema, and the final ranking."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.vectors import pq_topk_adc

    emb = table(spark, SF_ORACLE, "embeddings").withColumn(
        "sid", F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
    )
    queries = emb.filter(F.col("vec_id") < 3)
    out = pq_topk_adc(
        emb, queries, "sid", "embedding", k=5, m=8, n_codewords=16
    )
    rows = out.collect()
    assert rows and all(isinstance(r.query_id, str) for r in rows)
    assert all(isinstance(r.vec_id, str) for r in rows)
    assert {r.query_id for r in rows} == {"doc-0", "doc-1", "doc-2"}
    assert all(1 <= r.rank <= 5 for r in rows)


def test_ann_empty_corpus_raises_cleanly(spark):
    """Empty-corpus guards across the ANN tier: clear ValueError, not
    a NoneType crash from the dimension/seed probes."""
    import pytest
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.vectors import (
        ivf_topk_exact,
        topk_lsh,
    )

    empty = table(spark, SF_ORACLE, "embeddings").filter(F.lit(False))
    q = table(spark, SF_ORACLE, "embeddings").limit(1)
    with pytest.raises(ValueError, match="corpus is empty"):
        topk_lsh(empty, q, "vec_id", "embedding")
    with pytest.raises(ValueError, match="corpus is empty"):
        ivf_topk_exact(empty, q, "vec_id", "embedding")


def test_semdedup_survivor_rule_and_coverage(spark):
    """sim_semdedup invariants, recomputed independently in numpy:
    (a) soundness — every flagged doc has a same-cluster neighbor with
    exact cosine >= tau; (b) edge coverage — every same-cluster pair
    over tau has at least one flagged endpoint; (c) the SemDeDup
    survivor rule — for each over-tau pair, the endpoint closer to the
    centroid (smaller integer dist_sq, ties to the higher id) is the
    flagged one whenever the other endpoint survived."""
    import numpy as np

    from bitcoin_olap_spark.queries.llmdata import sim_semdedup
    from bitcoin_olap_spark.catalog import table

    rows = sim_semdedup(spark, SF_ORACLE).collect()
    flags = {r.vec_id: r.is_dup for r in rows}
    meta = {r.vec_id: (r.cid, r.dist_sq) for r in rows}
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in table(spark, SF_ORACLE, "embeddings").collect()
    }
    assert set(flags) == set(emb)

    scale = 1e16

    def cos(a, b):
        va, vb = emb[a], emb[b]
        dot = np.floor(va * vb * scale).astype(np.int64).sum()
        na = np.floor(va * va * scale).astype(np.int64).sum()
        nb = np.floor(vb * vb * scale).astype(np.int64).sum()
        return round(float(dot) / np.sqrt(float(na) * float(nb)), 6)

    ids = sorted(emb)
    edges = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if meta[a][0] == meta[b][0] and cos(a, b) >= 0.4:
                edges.append((a, b))
    assert edges, "corpus should contain within-cluster near-dup pairs"

    neighbors = {v: False for v in ids}
    for a, b in edges:
        neighbors[a] = neighbors[b] = True
    for v in ids:
        if flags[v]:
            assert neighbors[v], f"{v} flagged without an over-tau neighbor"
    n_dup = sum(flags.values())
    assert 0 < n_dup < len(ids)

    for a, b in edges:
        da, db = meta[a][1], meta[b][1]
        loser = a if da < db else b
        assert flags[a] or flags[b], f"edge ({a},{b}) has no flagged endpoint"
        if not flags[a] and not flags[b]:
            continue
        # if exactly one endpoint is flagged, it must be the rule's loser
        if flags[a] != flags[b]:
            flagged = a if flags[a] else b
            assert flagged == loser, (
                f"edge ({a},{b}): flagged {flagged} but rule drops {loser}"
            )


def test_rerank_recall_at_least_pq(spark):
    """The exact-rerank stage can only improve on raw PQ top-10: for
    every query, rerank's top-10 recall vs bruteforce must be >= the
    coarse PQ top-10 recall (refining within a top-50 candidate pool
    that contains the PQ top-10 by construction), and every reranked
    pair must come from the PQ top-50 pool."""
    from bitcoin_olap_spark.registry import all_queries

    q = all_queries()
    exact = {
        (r.query_id, r.vec_id)
        for r in q["sim_topk_bruteforce"](spark, SF_ORACLE).collect()
    }
    pq10 = {
        (r.query_id, r.vec_id)
        for r in q["sim_topk_pq"](spark, SF_ORACLE).collect()
    }
    rr = {
        (r.query_id, r.vec_id)
        for r in q["sim_topk_rerank"](spark, SF_ORACLE).collect()
    }
    assert len(rr & exact) >= len(pq10 & exact), (
        f"rerank recall {len(rr & exact)} < pq {len(pq10 & exact)}"
    )


def test_incremental_lsh_equals_restricted_full_dedup(spark, docs, tmp_path):
    """incremental_lsh_pairs (batch vs corpus, batch-internal included)
    must equal the FULL self-dedup over corpus+batch restricted to
    pairs with >= 1 batch side — same hash family, same band layout,
    same verify — and the STORED-index path (band_index -> parquet ->
    probe) must reproduce the in-plan build exactly."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.dedup import (
        band_index,
        incremental_lsh_pairs,
        minhash_lsh_pairs,
    )

    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    full = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
        if r.doc_a % 10 == 0 or r.doc_b % 10 == 0
    }
    inc = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in incremental_lsh_pairs(
            corpus, batch, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert inc == full and len(inc) > 0

    # stored-index round trip: the index is plain columns, so parquet
    # round-trips it losslessly and the probe can't tell the difference
    idx_path = str(tmp_path / "band_index.parquet")
    band_index(corpus, "doc_id", "text").write.parquet(idx_path)
    stored = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in incremental_lsh_pairs(
            corpus,
            batch,
            "doc_id",
            "text",
            threshold=0.8,
            corpus_index=spark.read.parquet(idx_path),
        ).collect()
    }
    assert stored == inc


def test_two_batch_loop_equals_restricted_full_dedup(spark, docs, tmp_path):
    """The steady-state ingest loop (probe batch1 against the STORED
    ACID band index, append batch1's bands, probe batch2 against the
    UPDATED index) must equal the full self-dedup over all docs
    restricted to batch-involving pairs — i.e. the index-update step
    loses nothing: batch2 finds its near-dups in batch1 purely through
    the index. Also pins replay idempotence: rerunning both probes
    against the same pinned versions reproduces the pair set while the
    append skips (head version unchanged)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.operators.dedup import (
        band_index,
        incremental_lsh_pairs,
        minhash_lsh_pairs,
    )

    corpus0 = docs.filter(F.col("doc_id") % 5 != 0)
    batch1 = docs.filter(F.col("doc_id") % 10 == 5)
    batch2 = docs.filter(F.col("doc_id") % 10 == 0)

    want = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
        if r.doc_a % 5 == 0 or r.doc_b % 5 == 0
    }

    root = str(tmp_path / "lsh_index")
    AT.init_table(spark, root, band_index(corpus0, "doc_id", "text"))

    def run_loop():
        p1 = incremental_lsh_pairs(
            corpus0, batch1, "doc_id", "text", threshold=0.8,
            corpus_index=AT.snapshot(spark, root, 0),
        )
        AT.append_idempotent(
            spark, root, band_index(batch1, "doc_id", "text"),
            op="lsh-batch1",
        )
        p2 = incremental_lsh_pairs(
            corpus0.unionByName(batch1), batch2, "doc_id", "text",
            threshold=0.8, corpus_index=AT.snapshot(spark, root, 1),
        )
        AT.append_idempotent(
            spark, root, band_index(batch2, "doc_id", "text"),
            op="lsh-batch2",
        )
        return {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in p1.unionByName(p2).collect()
        }

    got = run_loop()
    assert got == want and len(want) > 0
    assert AT.current_version(root) == 2
    # replay: identical pairs, no new index versions
    assert run_loop() == want
    assert AT.current_version(root) == 2


def test_stream_ingest_lsh_split_invariant_and_rebuild(spark, docs):
    """The streaming ingest-dedup loop converges to the batch full
    self-dedup for ANY micro-batch split — K=2 and K=3 file layouts
    produce the identical pair set (each pair surfaces exactly once:
    intra-batch, or when the later side's batch probes an index already
    holding the earlier side) — and a torn fixture (a manifest deleted
    from under the pairs table) fails the entry validation and rebuilds
    from scratch to the same converged result."""
    import os
    import shutil

    from bitcoin_olap_spark.operators.dedup import minhash_lsh_pairs
    from bitcoin_olap_spark.queries.llmdata import _lsh_stream_ingest
    from bitcoin_olap_spark.session import scratch_root

    want = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert len(want) > 0

    tag = "lshstream_t"
    # fresh fixtures for both splits
    for k in (2, 3):
        shutil.rmtree(
            os.path.join(
                scratch_root("sink"),
                f"{tag}_{k}_{os.path.basename(SF_ORACLE)}",
            ),
            ignore_errors=True,
        )
    got = {
        k: {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in _lsh_stream_ingest(
                spark, SF_ORACLE, n_batches=k, tag=tag
            ).collect()
        }
        for k in (2, 3)
    }
    assert got[2] == want
    assert got[3] == want

    # torn state: delete the pairs table's newest manifest -> the
    # entry validation must reject and rebuild the WHOLE fixture
    fixture = os.path.join(
        scratch_root("sink"), f"{tag}_3_{os.path.basename(SF_ORACLE)}"
    )
    manifests = sorted(
        os.listdir(os.path.join(fixture, "pairs", "_log"))
    )
    os.remove(os.path.join(fixture, "pairs", "_log", manifests[-1]))
    rebuilt = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in _lsh_stream_ingest(
            spark, SF_ORACLE, n_batches=3, tag=tag
        ).collect()
    }
    assert rebuilt == want
