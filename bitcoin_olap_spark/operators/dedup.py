"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame ops (no Python UDFs):

- exact_dedup:       hash-groupBy on a fingerprint — one shuffle on the
                     hash key; at 100 TB this is the cheap first pass.
- jaccard_pairs:     exact n-gram Jaccard via a hashed-shingle
                     self-join with a set-size length bound, then an
                     exact array-intersect verify on the survivors —
                     identical output to the naive string self-join at
                     a fraction of its exchange and join volume.
- minhash_lsh_pairs: MinHash signatures + banded LSH — the scale path:
                     candidate generation is a groupBy on band hashes
                     (linear shuffle), candidates then verified with
                     exact Jaccard. Hot bands (boilerplate shingles) are
                     the skew risk; AQE skew-join handles the verify
                     join.
- simhash_pairs:     64-bit SimHash + Hamming-ball blocking on 8-bit
                     chunks (a pair within Hamming distance d <= 7 must
                     agree on >= 1 of the 8 chunks, by pigeonhole).

MinHash/SimHash derive their hash bits from md5 (Kirsch-Mitzenmacher
a+i*b family for MinHash, the first 64 digest bits for SimHash): one
JVM-side digest per shingle/word, and — unlike seeded xxhash64 — every
derived hash is reproducible in ANSI SQL, so all four tiers are
oracle-checked end to end. A production deployment free of the
cross-engine-verification constraint could swap xxhash64 into the same
seams for a cheaper digest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .cacheutil import scoped_cache
from .text import fingerprint, shingle_array, words


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the input across the cluster before a CPU-heavy
    map stage. Single-file sources read as one partition; shingling /
    per-word hashing over them would otherwise run serial. Cheap: the
    shuffle moves the small pre-explode rows, not the exploded output."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by text fingerprint: (fingerprint, keep_id, n_copies).
    keep_id is the minimum id — deterministic survivor choice, unlike
    the reference's degenerate row_number ordering (btcolap.sql:9)."""
    return df.groupBy(fingerprint(text_col).alias("fingerprint")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def _capped_explode(
    arrs: DataFrame, id_col: str, df_cap: int
) -> DataFrame:
    """Exploded (id, n_shingles, h) shingle-hash rows whose hash has
    corpus document frequency <= df_cap, fully relational — no driver
    collect, no broadcast array, no per-row set probe, so there is
    nothing to gate at any corpus size: a LEFT ANTI join against the
    hot-hash relation (AQE broadcasts it while the boilerplate
    vocabulary is small, shuffles when it is not — either way the hot
    set never lands on the driver). `hot` is CACHED: it is consumed
    by both sides of the candidate self-join and Spark's exchange
    reuse does not dedupe the aggregate (measured: 0 ReusedExchange);
    with it cached, every re-derivation of the kept rows is a
    map-side explode off the cached doc arrays + a broadcast anti
    join — no repeated shuffle.

    A doc whose every shingle is hot vanishes entirely — it can form
    no candidate pair, which is exactly the documented recall loss of
    the cap.

    Replaced (r6, measured at sf0.1 / df_cap=4 where 25.8k of 29.6k
    distinct trigram hashes are over-cap): broadcasting the hot set
    as ONE sorted array and running array_except per document built a
    25k-entry probe set per row — twice per self-join side — for
    3.2 s per query vs 0.8 s uncapped; the anti-join form pays one
    extra df-count aggregate and is the shape that survives a
    boilerplate vocabulary too large to broadcast."""
    ex = arrs.select(
        F.col(id_col),
        "n_shingles",
        F.explode(
            F.transform("arr", lambda s: F.xxhash64(s))
        ).alias("h"),
    )
    hot = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("h")
        .transform(scoped_cache)
    )
    return ex.join(hot, "h", "left_anti")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard).

    Two-phase, exact. Phase 1 (candidates): the shingle self-join runs
    on xxhash64(shingle) LONGS, not strings — the corpus-wide exchange
    carries (id, hash, set_size) at 24 bytes/row instead of a ~25-byte
    string key, and the join/group compare longs. Hash collisions can
    only INFLATE a pair's common count, so thresholding the hash-count
    Jaccard yields a SUPERSET of the true result — no false negatives.
    The length bound (na >= t*nb and vice versa, a necessary condition
    for J >= t) prunes pairs before the pair-count aggregation.
    Phase 2 (verify): the few surviving pairs join back to the compact
    per-document shingle ARRAYS (one row per doc) and the true Jaccard
    is a single JVM-side size(array_intersect(...)) per pair — no
    corpus re-explode, no per-pair aggregation, and any hash-collision
    impostor is discarded. Output is therefore IDENTICAL to a naive
    exact string join; the oracle states the naive semantics. Jaccard =
    common/(na+nb-common) is a single integer->double division
    (bit-stable across engines).

    Shuffle inventory: the self-join on h — UN-HINTED, so AQE picks
    the physical form from the measured size of the hashed-shingle
    relation (broadcast-hash at bench scale where it fits, shuffle
    join at corpus scale where it cannot — the same
    let-AQE-decide-from-size posture as plans/ledger.py); the pair
    count (join-output-scale, map-side partials); and two verify
    joins keyed on doc id over output-scale pairs (AQE broadcasts
    the array relation when it is small).

    Rewrites measured and REJECTED at sf0.1 (kept for the record, like
    the r4 bucket-aggregate rejection):
    - one-pass exact STRING self-join (drops phase 2 entirely): 7.4 s
      vs 1.0 s — sort-merge join on ~25-byte string keys with heavy
      key duplication loses far more than the verify phase costs;
    - single melt-verify join (explode pairs to (pair, role, doc),
      join `arrs` once, regroup): 1.20 s vs 1.00 s — shuffling the
      5 KB shingle arrays through a pair-keyed aggregate costs more
      than the second broadcast join over the cached relation.
    ADOPTED r5: dropping the explicit repartition(h)+cache on the
    hashed-shingle relation (interleaved A/B, min of 4: 1.245 s ->
    0.96 s) — the manual exchange pinned the join to sort-merge and
    its cache materialization was a barrier; re-deriving the explode
    from the cached `arrs` costs less than either.

    `df_cap` (the 100 TB hot-key guard, the C4/RefinedWeb recipe):
    shingles whose corpus document frequency exceeds the cap are
    removed BEFORE the candidate self-join — a boilerplate trigram
    shared by 1M documents is ~5e11 candidate rows that AQE can
    spread but never shrink; capping removes the quadratic hot key at
    the source, via a fully relational anti-join against the hot-hash
    relation (_capped_explode — no driver collect, no broadcast
    array, so no corpus can melt the driver). The capped path skips
    the hash-count cut entirely: the cap already bounds candidate
    volume at vocab * C(df_cap, 2), so EVERY pair sharing at least
    one under-cap shingle goes straight to the exact verify on the
    FULL arrays — the widest sound candidate set, identical to the
    oracle's. The ONLY recall loss is a pair sharing NO under-cap
    shingle — documents made entirely of corpus boilerplate — the
    documented-lossy trade every production dedup recipe makes
    (pinned by tests/test_properties.py). df_cap=None (default)
    disables the cap: exact as before, no extra aggregation job.
    """
    # documents arrive in O(#input files) partitions and explode does
    # not re-split — _spread re-splits the cheap pre-explode rows.
    arr = shingle_array(text_col, n, distinct=True)
    arrs = (
        _spread(df)
        .select(
            F.col(id_col),
            arr.alias("arr"),
            F.size(arr).alias("n_shingles"),
        )
        .transform(scoped_cache)
    )
    hashes = F.transform("arr", lambda s: F.xxhash64(s))
    t = F.lit(threshold)
    if df_cap is None:
        sh = arrs.select(
            id_col, "n_shingles", F.explode(hashes).alias("h")
        )
    else:
        sh = _capped_explode(arrs, id_col, df_cap)
    a, b = sh.alias("a"), sh.alias("b")
    joined = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("a.n_shingles") >= t * F.col("b.n_shingles"))
        & (F.col("b.n_shingles") >= t * F.col("a.n_shingles")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.n_shingles").alias("na"),
        F.col("b.n_shingles").alias("nb"),
    )
    if df_cap is None:
        # hash-count cut: collisions only INFLATE common_h, so the
        # thresholded set is a superset of the true pairs
        adj = F.col("common_h").cast("double")
        cand = (
            joined.groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("common_h"),
                F.first("na").alias("na"),
                F.first("nb").alias("nb"),
            )
            .filter(adj / (F.col("na") + F.col("nb") - adj) >= t)
            .select("doc_a", "doc_b")
        )
    else:
        # With the cap engaged the candidate volume is already
        # bounded by vocab * C(df_cap, 2), so every pair sharing >= 1
        # under-cap shingle goes straight to the exact verify — the
        # oracle's own candidate semantics. A count-based cut widened
        # by the per-doc drop counts was measured (r6) to prune only
        # ~12% of candidates here while costing a count aggregate, a
        # drop-count aggregate, and two pair-level joins.
        cand = joined.select("doc_a", "doc_b").distinct()
    # exact verify on the surviving pairs, against the compact arrays
    A = arrs.select(
        F.col(id_col).alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_shingles").alias("na"),
    )
    B = arrs.select(
        F.col(id_col).alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_shingles").alias("nb"),
    )
    common = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = common.cast("double") / (F.col("na") + F.col("nb") - common)
    return (
        cand.join(A, "doc_a")
        .join(B, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_arrs(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """ONE cached compact relation (id, shingle array, set size) that
    feeds every stage of an LSH pipeline: the signature fold, the
    exact verify arrays, and the set sizes — the shingle text is
    computed and cached ONCE, and the verify tier needs no corpus
    re-explode / size aggregation."""
    arr = shingle_array(text_col, n, distinct=True)
    return (
        _spread(df)
        .select(
            F.col(id_col),
            arr.alias("arr"),
            F.size(arr).alias("n_shingles"),
        )
        .transform(scoped_cache)
    )


def _minhash_bands(
    arrs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band keys from a _shingle_arrs
    relation — the shared banding kernel of the full self-dedup
    (minhash_lsh_pairs) and the incremental probe
    (incremental_lsh_pairs): both sides of an incremental join MUST
    come from the identical hash family and band layout, which this
    single code path guarantees.

    Signatures fold MAP-SIDE over the cached array — min over the
    shingle set == min over the exploded relation, with ZERO exchange
    (an explode + per-hash min groupBy spends a whole corpus shuffle
    to arrive at one row per doc, which this row already is). One md5
    per shingle feeds all num_hashes Kirsch-Mitzenmacher
    h_i = a + i*b values (a = md5 hex digits 1-11 as a 44-bit int,
    b = digits 12-22; max < 2^50, no int64 overflow); the running
    element-wise min rides an array accumulator. Empty-shingle docs
    keep the sentinel signature and are excluded. Unlike a seeded
    xxhash64, every h_i is reproducible in ANSI SQL
    ('0x'||substr(md5(s),..))::BIGINT — what lets the driver's DuckDB
    oracle check the LSH pipeline end to end instead of rows-only.

    Band key = the band's signature rows joined as a string: as
    collision-exact as hashing them (equal iff the band rows are
    equal), and reproducible in the oracle as
    string_agg(mh, '|' ORDER BY i) where xxhash64(...) is not."""
    rows_per_band = num_hashes // bands
    sentinel = F.lit(1 << 62).cast("long")
    ab = lambda s: F.struct(  # noqa: E731
        F.conv(F.substring(F.md5(s), 1, 11), 16, 10)
        .cast("long")
        .alias("a"),
        F.conv(F.substring(F.md5(s), 12, 11), 16, 10)
        .cast("long")
        .alias("b"),
    )
    idx = F.sequence(F.lit(0).cast("long"), F.lit(num_hashes - 1))
    sig_col = F.aggregate(
        F.transform("arr", ab),
        F.array_repeat(sentinel, num_hashes),
        lambda acc, p: F.zip_with(
            acc,
            F.transform(idx, lambda i: p["a"] + i * p["b"]),
            lambda m, h: F.least(m, h),
        ),
    )
    sig = arrs.filter(F.col("n_shingles") > 0).select(
        id_col, sig_col.alias("sig")
    )
    band_arr = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.element_at("sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        id_col, F.posexplode(band_arr).alias("band_idx", "band_hash")
    )


#: in-bucket unordered pair explode over a sorted id array `ids`:
#: every (x, y) with x before y — map-side, no self-join.
def _in_bucket_pairs():
    return F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ids"),
                    i + 2,
                    F.greatest(F.size("ids") - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def _verify_jaccard(
    cand: DataFrame, arrs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify restricted to candidate pairs, against the
    compact cached arrays: one size(array_intersect) per pair — no
    corpus re-explode, no per-pair aggregation, no size joins."""
    A = arrs.select(
        F.col(id_col).alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_shingles").alias("na"),
    )
    B = arrs.select(
        F.col(id_col).alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_shingles").alias("nb"),
    )
    common = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = common.cast("double") / (F.col("na") + F.col("nb") - common)
    return (
        cand.join(A, "doc_a")
        .join(B, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle -> signature -> split into `bands` bands of
    num_hashes/bands rows -> bucket-join on (band_idx, band_hash) ->
    distinct candidate pairs -> exact-Jaccard verify -> threshold.
    Returns (doc_a, doc_b, jaccard) — same shape as jaccard_pairs but
    with candidate generation linear in corpus size.
    """
    arrs = _shingle_arrs(df, id_col, text_col, n)
    banded = _minhash_bands(arrs, id_col, num_hashes, bands)
    # candidate generation as ONE bucket aggregate, not a self-join:
    # group by the band key, collect the (sorted, distinct) doc ids
    # that share it, and explode every in-bucket pair map-side. Same
    # candidate set as the equi-self-join, with one exchange instead
    # of two join inputs plus an intermediate cache. Both forms are
    # quadratic in a single bucket's size — a boilerplate-heavy hot
    # band is the skew risk either way; the collect_list ceiling is
    # the bucket size, which banding keeps small by construction.
    ids = F.array_sort(F.collect_set(F.col(id_col)))
    cand = (
        banded.groupBy("band_idx", "band_hash")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_in_bucket_pairs()).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )
    return _verify_jaccard(cand, arrs, id_col, threshold)


def band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The PERSISTABLE corpus LSH index for incremental dedup:
    (id, band_idx, band_hash), one row per document per band. A
    production pipeline materializes this ONCE per corpus (e.g. an
    ACID-table append alongside each ingested batch) and every later
    batch probes it — the corpus is never re-shingled, re-signed, or
    re-paired. Plain columns (long, int, string), so it round-trips
    parquet losslessly; the probe side derives its bands from the
    SAME kernel (_minhash_bands), which is what makes a stored index
    and a freshly computed one interchangeable."""
    return _minhash_bands(
        _shingle_arrs(df, id_col, text_col, n), id_col, num_hashes, bands
    )


def incremental_lsh_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL batch-vs-corpus MinHash/LSH dedup — the shape a
    production ingest pipeline actually runs: each arriving batch is
    deduplicated against the EXISTING corpus (and within itself)
    without ever re-pairing corpus x corpus. Returns
    (doc_a, doc_b, jaccard >= threshold) for every near-dup pair with
    AT LEAST ONE side in the batch — exactly the full self-dedup
    (minhash_lsh_pairs over corpus + batch) restricted to
    batch-involving pairs (property-tested), because both sides band
    with the identical hash family and layout (_minhash_bands).

    `corpus_index`: a precomputed (id, band_idx, band_hash) relation —
    the STORED index (band_index written to parquet/ACID at ingest
    time). When given, the corpus text is touched ONLY to fetch the
    shingle arrays of the few candidate-matched docs for the exact
    verify; when None, the index is derived here (build + probe in
    one plan — the oracle-checked path).

    Work inventory at scale (batch of size b against a corpus of size
    C): banding the batch is O(b) map work; the probe is ONE equi-join
    on (band_idx, band_hash) whose corpus side is the stored index —
    AQE broadcasts the banded batch when it is small (the common
    case), so the probe is a map-side join over the index scan, no
    corpus shuffle; batch-internal candidates reuse the bucket
    aggregate on the batch's own bands, O(b); the exact verify
    re-shingles ONLY candidate corpus docs (semi-join on candidate
    ids). Nothing scales with C x C; corpus cost is the index scan
    plus O(candidates). Ids must be unique across corpus + batch (the
    ingest contract — batch rows are new documents)."""
    batch_arrs = _shingle_arrs(batch, id_col, text_col, n)
    batch_bands = _minhash_bands(batch_arrs, id_col, num_hashes, bands)
    if corpus_index is None:
        corpus_index = band_index(
            corpus, id_col, text_col, n, num_hashes, bands
        )
    bb = batch_bands.select(
        F.col(id_col).alias("_bid"), "band_idx", "band_hash"
    )
    ci = corpus_index.select(
        F.col(id_col).alias("_cid"), "band_idx", "band_hash"
    )
    # batch x corpus candidates: the asymmetric probe join — un-hinted,
    # AQE broadcasts the (small) banded batch against the index
    cross = (
        bb.join(ci, ["band_idx", "band_hash"])
        .select(
            F.least("_bid", "_cid").alias("doc_a"),
            F.greatest("_bid", "_cid").alias("doc_b"),
        )
    )
    # batch x batch candidates: the batch also self-dedups — same
    # one-bucket-aggregate shape as minhash_lsh_pairs, batch-sized
    ids = F.array_sort(F.collect_set(F.col("_bid")))
    intra = (
        bb.groupBy("band_idx", "band_hash")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_in_bucket_pairs()).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
    )
    cand = scoped_cache(cross.unionByName(intra).distinct())
    # exact verify: shingle arrays exist for the whole (small) batch;
    # corpus docs are re-shingled ONLY if a candidate names them.
    # cand_ids feeds a LEFT SEMI join only, which dedupes inherently —
    # a .distinct() here would spend a whole exchange+aggregate job to
    # shrink an already-candidate-sized relation (measured: removing
    # it is flat-to-better at sf0.1 on both consumers of this path)
    cand_ids = cand.select(F.col("doc_a").alias(id_col)).unionByName(
        cand.select(F.col("doc_b").alias(id_col))
    )
    # broadcast the candidate ids: without a shuffle boundary on this
    # side AQE cannot re-plan the semi-join, and the static planner
    # SORT-MERGES — shuffling the whole CORPUS to probe a relation
    # bounded by the batch's candidate count (executed-plan audit,
    # tests/test_plans.py::test_incremental_probe_and_verify_join_shapes).
    # Size regime: cand_ids ≤ 2x candidate pairs of ONE ingest batch —
    # the same small-batch bound the probe join's broadcast relies on.
    corpus_arrs = _shingle_arrs(
        corpus.join(F.broadcast(cand_ids), id_col, "left_semi"),
        id_col,
        text_col,
        n,
    )
    return _verify_jaccard(
        cand, batch_arrs.unionByName(corpus_arrs), id_col, threshold
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: per-word hash, each bit votes
    ±1, sign of the vote sum sets the bit. Returns (id_col, simhash).

    The 64 word-hash bits are the first 16 hex digits of md5(word),
    parsed as two 32-bit halves g1/g2 — one digest per word, and every
    bit reproducible in ANSI SQL (('0x'||substr(md5(w),1,8))::BIGINT),
    so the driver's DuckDB oracle can replay the whole vote/sign/
    blocking pipeline instead of settling for a rows-only check.

    Implemented as 64 conditional-sum aggregates (JVM-side, one shuffle
    of one row per document) assembled with shiftleft/bitwise-or."""
    w = (
        _spread(df)
        .select(
            F.col(id_col), F.explode(words(F.lower(text_col))).alias("w")
        )
        .withColumn("hex", F.md5("w"))
        .withColumn(
            "g1", F.conv(F.substring("hex", 1, 8), 16, 10).cast("long")
        )
        .withColumn(
            "g2", F.conv(F.substring("hex", 9, 8), 16, 10).cast("long")
        )
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright("g1" if i < 32 else "g2", i % 32).bitwiseAND(
                    F.lit(1)
                )
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agged = w.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return agged.select(id_col, sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 7
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming ball, via chunk blocking:
    split the 64-bit hash into 8 8-bit chunks; d <= 7 bit flips cannot
    touch all 8 chunks (pigeonhole), so every qualifying pair collides
    on >= 1 chunk — candidate join per chunk, then exact Hamming verify
    (bit_count of xor). Returns (doc_a, doc_b, hamming).

    A word-level edit on a ~60-word doc flips ~1 simhash bit, so
    d <= 7 tracks roughly Jaccard >= 0.9 on the planted near-dups."""
    sh = simhash(df, id_col, text_col)
    chunks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 8 * c)
                    .bitwiseAND(F.lit(0xFF))
                    .alias(f"c{c}")
                    for c in range(8)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    ).transform(scoped_cache)  # self-join below would otherwise run the 64-vote
    # simhash aggregation once per side
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            )
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    shortcut: bool = False,
) -> DataFrame:
    """Connected components over an undirected pair graph:
    (node, component) where component = min node id reachable. This is
    the survivor-election step a near-dup dedup pipeline needs after
    pair generation — transitive closure groups {A~B, B~C} into one
    cluster so exactly one document of {A,B,C} is kept.

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; converges in
    graph-diameter rounds (near-dup clusters are shallow — diameter is
    small — so this beats the O(log n)-round large-star/small-star
    machinery it could be swapped for on adversarial graphs). Each
    round is one join + one aggregate, both keyed on node id — the same
    shuffle partitioning every round, which AQE reuses. Labels are
    localCheckpoint()ed per round to cut the growing lineage (a 25-deep
    iterative plan otherwise re-optimizes from scratch each action).

    Two fixed-cost levers (the loop is driver-actioned, so per-round
    job overhead dominates at any scale where the cluster is not
    saturated):
    - The fixpoint runs ONLY on nodes that touch an edge — isolated
      nodes can never change label, so they are unioned back lazily as
      self-labeled singletons after convergence. In a near-dup graph
      edge-touched nodes are a small fraction of the corpus, so every
      round's join/agg runs on the pair-graph scale, not corpus scale.
    - Convergence is detected from the label-sum: min-label propagation
      only ever decreases labels, so an unchanged SUM(lbl) (exact,
      decimal — no overflow at any node count) implies no label moved.
      One tiny aggregate action per round instead of a join + count.

    `shortcut` (r11): pointer-doubling — after each propagation the
    labels self-join once (lbl := min(lbl, lbl(lbl)), a NODE-scale
    join), so the min label travels exponentially along label chains
    and deep graphs converge in ~log(diameter) rounds instead of
    diameter rounds. Exactness: a label value is always the id of a
    node in the same component and only ever decreases, both preserved
    by the shortcut step, so the sum-unchanged fixpoint is still the
    propagation fixpoint = component-min. Kept OFF by default: on the
    shallow near-dup graphs (2-4 rounds) the extra per-round join
    costs more than the rounds it saves (measured interleaved at
    sf0.1: graph_connected_components 3.86 -> 4.32 s, graph_modularity
    3.86 -> 4.80 s with it on); on ml_dbscan_grid's deep core graph
    (10 rounds -> 6) it wins (6.07 -> 4.82 s, confirmed in 3 of 4
    interleaved runs)."""
    und = edges.select(
        F.col(src_col).alias("e_src"), F.col(dst_col).alias("e_dst")
    )
    # localCheckpoint, not cache: a lazily-cached edge list enters the
    # first round's planning with UNKNOWN stats, so every round's join
    # is planned sort-merge (measured ~2 s/round on a 512-edge graph);
    # materializing once gives AQE real sizes and it broadcasts the
    # small side itself — the size-adaptive choice that stays correct
    # when the label relation is NOT small (an explicit broadcast here
    # would be wrong at 100 TB).
    und = (
        und.unionByName(
            und.select(
                F.col("e_dst").alias("e_src"), F.col("e_src").alias("e_dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )

    def _converge_sum(lbls: DataFrame):
        """ONE job: materializes the persisted label relation AND
        returns the convergence scalar (labels only ever decrease, so
        an unchanged exact decimal SUM means no label moved)."""
        return lbls.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    # Round 1 needs no join: with lbl(x)=x initially, the neighbor-min
    # IS min(e_dst) per e_src (und is symmetric, so e_src covers every
    # edge-touched node) — one aggregate replaces join+union+aggregate.
    # Round-1 labels persist() lazily; the convergence-sum action
    # materializes them, so round 2's join is planned against an
    # InMemoryRelation with known (materialized) stats — the adaptive
    # size-based join choice, with one job per round. Later rounds
    # checkpoint, so once the loop ends the round-1 cache is dead
    # weight (with max_iter == 1 the returned plan recomputes it).
    labels = first = (
        und.groupBy(F.col("e_src").alias("node"))
        .agg(F.min("e_dst").alias("m"))
        .select("node", F.least("node", "m").alias("lbl"))
        .persist()
    )
    try:
        prev_sum = _converge_sum(labels)
        for _ in range(max_iter - 1):
            nbr = und.join(
                labels, und.e_dst == F.col("node")
            ).select(F.col("e_src").alias("node"), "lbl")
            # lazy localCheckpoint, not persist: the round references
            # `labels` TWICE (union + join), so with plain persist the
            # LOGICAL plan doubles every round — fine on shallow near-dup
            # graphs, but a 2^rounds plan-string blowup on large-diameter
            # graphs (ml_dbscan_grid's core graph hit the 2 GiB plan cap
            # at ~20 rounds). The convergence-sum action materializes the
            # checkpoint, truncating lineage at the same one-job-per-round
            # cost persist had.
            new = (
                labels.unionByName(nbr)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
            if shortcut:
                # pointer doubling: one node-scale self-join; see docstring
                l2 = new.select(
                    F.col("node").alias("_n2"), F.col("lbl").alias("_l2")
                )
                new = new.join(l2, new.lbl == l2._n2, "left").select(
                    "node",
                    F.least("lbl", F.coalesce("_l2", "lbl")).alias("lbl"),
                )
            new = new.localCheckpoint(eager=False)
            cur_sum = _converge_sum(new)
            labels = new
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    finally:
        first.unpersist()
    singles = (
        nodes.select(F.col(id_col).alias("node"))
        .join(
            und.select(F.col("e_src").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .select("node", F.col("node").alias("lbl"))
    )
    return labels.unionByName(singles).select(
        F.col("node"), F.col("lbl").alias("component")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: (doc_a, doc_b, containment)
    where containment = |A ∩ B| / |A| >= threshold — the ASYMMETRIC
    near-superset relation (Broder's containment, the quote /
    boilerplate-inclusion / subset-document detector that resemblance
    misses: a paragraph fully quoted inside a long document scores
    near-zero Jaccard but containment 1.0). Ordered pairs with
    doc_a != doc_b — A contained in B and B in A are distinct facts.

    Same two-phase machinery as jaccard_pairs, but the asymmetry is
    DEFERRED: |A ∩ B| is symmetric, so candidates are UNORDERED
    pairs (a < b) — half the self-join output, half the pair-count
    groups, half the verify joins of the naive ordered formulation
    (measured: 1.20 s -> 1.00 s at sf0.1) — and both directions
    materialize only after the single exact verify, as a 2-element
    explode with each side's own threshold test. The phase-1 cut is
    common_h >= t*least(na, nb) (the weakest direction's necessary
    condition; hash collisions only INFLATE the count, so the cut
    keeps a SUPERSET — for t <= 1 no length-only bound can exclude
    an unordered pair, since max(na,nb) >= t*min(na,nb) always).
    The exact verify recomputes |A ∩ B| via array_intersect on the
    compact cached per-doc arrays and discards collision impostors.
    Output equals the naive exact string join. Shuffle inventory
    matches jaccard_pairs: an un-hinted AQE-sized self-join, a
    pair-count aggregate, two verify joins over candidate-scale
    pairs.

    `df_cap`: same corpus-df hot-key guard as jaccard_pairs — over-cap
    shingles leave the candidate self-join via the relational
    anti-join (_capped_explode; no broadcast array, no driver
    collect); the capped path sends every pair sharing >= 1 under-cap
    shingle straight to the exact verify on the FULL arrays (the cap
    itself bounds candidate volume, see jaccard_pairs); the only
    recall loss is a pair sharing no under-cap shingle
    (documented-lossy, property-tested). None (default) = exact, as
    before."""
    arr = shingle_array(text_col, n, distinct=True)
    arrs = (
        _spread(df)
        .select(
            F.col(id_col),
            arr.alias("arr"),
            F.size(arr).alias("n_shingles"),
        )
        .transform(scoped_cache)
    )
    hashes = F.transform("arr", lambda s: F.xxhash64(s))
    t = F.lit(threshold)
    if df_cap is None:
        sh = arrs.select(
            id_col, "n_shingles", F.explode(hashes).alias("h")
        )
    else:
        sh = _capped_explode(arrs, id_col, df_cap)
    a, b = sh.alias("a"), sh.alias("b")
    joined = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.n_shingles").alias("_na"),
        F.col("b.n_shingles").alias("_nb"),
    )
    if df_cap is None:
        cand = (
            joined.groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("common_h"),
                F.first("_na").alias("_na"),
                F.first("_nb").alias("_nb"),
            )
            .filter(
                F.col("common_h").cast("double")
                >= t * F.least("_na", "_nb")
            )
            .select("id_a", "id_b")
        )
    else:
        # capped: candidates bounded by vocab * C(df_cap, 2) — all of
        # them go straight to the exact verify (see jaccard_pairs)
        cand = joined.select("id_a", "id_b").distinct()
    A = arrs.select(
        F.col(id_col).alias("id_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_shingles").alias("na"),
    )
    B = arrs.select(
        F.col(id_col).alias("id_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_shingles").alias("nb"),
    )
    common = F.size(F.array_intersect("arr_a", "arr_b"))
    both = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                (common.cast("double") / F.col("na")).alias(
                    "containment"
                ),
            ),
            F.struct(
                F.col("id_b").alias("doc_a"),
                F.col("id_a").alias("doc_b"),
                (common.cast("double") / F.col("nb")).alias(
                    "containment"
                ),
            ),
        )
    )
    return (
        cand.join(A, "id_a")
        .join(B, "id_b")
        .select(both.alias("d"))
        .select("d.doc_a", "d.doc_b", "d.containment")
        .filter(F.col("containment") >= threshold)
    )
