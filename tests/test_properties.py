"""Property-based tests (hypothesis): algebraic invariants that must
hold for ANY input, not just the testdata — the class of guarantee the
oracle comparisons can't give (SURVEY.md §5 strategy, strengthened).

Examples run against one shared SparkSession; example counts are kept
small because each example is a Spark job.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@SETTINGS
@given(values=st.lists(floats, min_size=1, max_size=50))
def test_exact_sum_is_order_independent(spark, values):
    """exact_sum must equal the Python-decimal reference regardless of
    partitioning/summation order: shuffled input, repartitioned 7 ways,
    same result to the quantized digit."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.functions import exact_sum

    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = df.repartition(7).agg(exact_sum("v", "s")).collect()[0]["s"]
    # HALF_UP matches Spark's (and DuckDB's) double->decimal cast;
    # Python's default banker's rounding would diverge on exact ties
    ref = float(
        sum(
            Decimal(str(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
            for v in values
        )
    )
    assert got == pytest.approx(ref, abs=1e-9)


@SETTINGS
@given(
    n_fact=st.integers(min_value=0, max_value=40),
    n_keys=st.integers(min_value=1, max_value=5),
    salt=st.integers(min_value=1, max_value=6),
)
def test_salted_join_equals_plain_join(spark, n_fact, n_keys, salt):
    """salted_join is row-identical to the unsalted join for any salt
    factor, including hot-key distributions (all facts on one key)."""
    from bitcoin_olap_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(i % n_keys, i) for i in range(n_fact)], "k long, payload long"
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n_keys)], "k long, label string"
    )
    got = sorted(
        tuple(r) for r in salted_join(fact, dim, "k", salt).collect()
    )
    want = sorted(tuple(r) for r in fact.join(dim, "k").collect())
    assert got == want


def test_salted_join_rejects_outer(spark):
    """Replicated-dim salting breaks right/full outer semantics
    (unmatched dim rows would appear S times) — must refuse."""
    import pytest as _pytest

    from bitcoin_olap_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 2)], "k long, payload long")
    dim = spark.createDataFrame([(1, "d")], "k long, label string")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(fact, dim, "k", 4, how=how)


@SETTINGS
@given(text=st.text(alphabet=st.characters(codec="ascii"), max_size=80))
def test_fingerprint_normalization_invariants(spark, text):
    """Document fingerprints must be invariant under case changes and
    extra whitespace — the normalization contract of exact dedup."""
    from bitcoin_olap_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(text, text.upper(), "  " + text.replace(" ", "   ") + " ")],
        "a string, b string, c string",
    )
    row = df.select(
        fingerprint("a").alias("fa"),
        fingerprint("b").alias("fb"),
        fingerprint("c").alias("fc"),
    ).collect()[0]
    assert row["fa"] == row["fb"] == row["fc"]


@SETTINGS
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**6),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_exact_dedup_idempotent(spark, ids):
    """Running exact dedup on an already-deduped corpus changes
    nothing: every fingerprint keeps n_copies == 1."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, f"unique document number {i}") for i in ids],
        "doc_id long, text string",
    )
    once = exact_dedup(df, "doc_id", "text")
    assert once.filter(F.col("n_copies") != 1).count() == 0
    assert once.count() == len(ids)


@SETTINGS
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.integers(min_value=0, max_value=10**7),   # ts offset sec
        ),
        min_size=1,
        max_size=40,
    ),
    gap_s=st.integers(min_value=1, max_value=10**5),
)
def test_gap_sessions_invariants(spark, events, gap_s):
    """For any event set and gap: consecutive events inside one session
    are <= gap apart; consecutive sessions are > gap apart; session ids
    per user are dense starting at 1."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.temporal import gap_sessions

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(events)],
        "event_id long, user_id long",
    ).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.element_at(
                F.array(*[F.lit(t) for _, t in events]),
                F.col("event_id").cast("int") + 1,
            )
        ),
    )
    out = gap_sessions(df, "user_id", "ts", "event_id", gap_s * 1_000_000)
    per_user = {}
    for r in out.orderBy("user_id", "_us", "event_id").collect():
        per_user.setdefault(r["user_id"], []).append(
            (r["_us"], r["session_id"])
        )
    for u, seq in per_user.items():
        assert seq[0][1] == 1, (u, seq)
        for (us0, s0), (us1, s1) in zip(seq, seq[1:]):
            gap = us1 - us0
            if s1 == s0:
                assert gap <= gap_s * 1_000_000, (u, gap, gap_s)
            else:
                assert s1 == s0 + 1, (u, s0, s1)
                assert gap > gap_s * 1_000_000, (u, gap, gap_s)


@SETTINGS
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_hash_split_deterministic_and_total(spark, ids):
    """The md5 split assigns every id exactly one split, identically on
    repeated runs and independent of partitioning."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    h2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(h2 < "0d", "val").when(h2 < "1a", "test").otherwise("train")
    )
    a = {r["doc_id"]: r["s"] for r in df.select("doc_id", split.alias("s")).collect()}
    b = {
        r["doc_id"]: r["s"]
        for r in df.repartition(5).select("doc_id", split.alias("s")).collect()
    }
    assert a == b
    assert set(a) == set(ids)
    assert set(a.values()) <= {"train", "val", "test"}


def test_bloom_prefilter_superset_and_selective(spark):
    """The Bloom prefilter must pass EVERY true-matching fact row
    (no false negatives — correctness) while dropping most
    non-matching rows (selectivity — the point of the technique)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.bloom import bloom_prefilter

    from .conftest import SF_ORACLE

    dim = (
        table(spark, SF_ORACLE, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select("s_suppkey")
    )
    fact = table(spark, SF_ORACLE, "lineitem").select("l_suppkey")
    pre = bloom_prefilter(fact, dim, "l_suppkey", "s_suppkey")
    true_match = fact.join(
        dim, fact["l_suppkey"] == dim["s_suppkey"], "left_semi"
    )
    n_fact = fact.count()
    n_pre = pre.count()
    n_true = true_match.count()
    # superset: bloom can only add rows, never lose one
    assert n_pre >= n_true
    missing = true_match.exceptAll(pre.select("l_suppkey")).count()
    assert missing == 0
    # selectivity: with ~9% matching keys and fp ~5e-5, the prefilter
    # should pass well under half the fact rows
    assert n_pre < n_fact * 0.5, (n_pre, n_fact)


def test_bloom_hash_is_type_width_invariant(spark):
    """Build from int32 keys, probe with int64 keys holding the same
    values: every true match must still pass. xxhash64 is type-
    sensitive, so without the string-cast normalization in _hash_pos a
    parquet width change between sides produces false NEGATIVES —
    silently wrong joins (ADVICE r2)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.bloom import bloom_prefilter

    dim32 = spark.range(0, 50).select(
        (F.col("id") * 7).cast("int").alias("k")
    )
    fact64 = spark.range(0, 400).select(
        F.col("id").cast("bigint").alias("k")
    )
    pre = bloom_prefilter(fact64, dim32, "k", "k")
    true_match = fact64.join(
        dim32.select(F.col("k").cast("bigint").alias("k")), "k", "left_semi"
    )
    missing = true_match.exceptAll(pre.select("k")).count()
    assert missing == 0


def test_triangle_count_known_graphs(spark):
    """Degree-ordered wedge counting must agree with brute-force
    triangle enumeration on structured graphs: a K4 clique has C(4,3)=4
    triangles, a path/star has none. Exercises the full operator body
    (orientation, adjacency-array wedge explode, closing join) on
    inputs where the answer is computable by hand."""
    from pyspark.sql import functions as F

    def count_triangles(edges_uv):
        und = spark.createDataFrame(edges_uv, "u long, v long").cache()
        deg = (
            und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        uf = F.struct("du", "u") < F.struct("dv", "v")
        ori = und.join(da, "u").join(db, "v").select(
            F.when(uf, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(uf, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        adj = ori.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("ns")
        )
        w1 = adj.select("ns", F.posexplode("ns").alias("i", "b"))
        wedges = w1.select(
            "b",
            F.explode(
                F.slice("ns", F.col("i") + 2, F.size("ns"))
            ).alias("c"),
        )
        return (
            wedges.join(und, (wedges.b == und.u) & (wedges.c == und.v))
            .count()
        )

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(0, 1), (1, 2), (2, 3)]
    star = [(0, 1), (0, 2), (0, 3), (0, 4)]
    k4_plus_pendant = k4 + [(3, 9)]
    assert count_triangles(k4) == 4
    assert count_triangles(path) == 0
    assert count_triangles(star) == 0
    assert count_triangles(k4_plus_pendant) == 4


def test_morton_interleave_known_values(spark):
    """Z-order bit interleave must place x in even bits and y in odd
    bits: z(1,0)=1, z(0,1)=2, z(3,3)=15, z(2,1)=6 — the textbook Morton
    codes."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.queries.sources import _morton

    rows = [(1, 0, 1), (0, 1, 2), (3, 3, 15), (2, 1, 6), (0, 0, 0),
            (65535, 0, 0x55555555), (0, 65535, 0xAAAAAAAA)]
    df = spark.createDataFrame(
        [(x, y) for x, y, _ in rows], "x long, y long"
    ).withColumn("z", _morton(F.col("x"), F.col("y")))
    got = {(r["x"], r["y"]): r["z"] for r in df.collect()}
    for x, y, want in rows:
        assert got[(x, y)] == want, f"z({x},{y})={got[(x,y)]} want {want}"


def test_hash_embed_token_mass(spark):
    """Feature-hashing embedding invariant: sum(|f_i|) <= token count
    per doc (each token contributes exactly +-1 to one bucket) and the
    total bucket mass parity equals the token-count parity."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.registry import all_queries

    from .conftest import SF_ORACLE

    emb = all_queries()["text_hash_embed"](spark, SF_ORACLE)
    fcols = [c for c in emb.columns if c.startswith("f")]
    mass = emb.select(
        "doc_id",
        sum(F.abs(F.col(c)) for c in fcols).alias("mass"),
        sum(F.col(c) for c in fcols).alias("net"),
    )
    from bitcoin_olap_spark.catalog import table
    toks = (
        table(spark, SF_ORACLE, "documents")
        .select(
            "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tok")
        )
    )
    bad = (
        mass.join(toks, "doc_id")
        .filter(
            (F.col("mass") > F.col("n_tok"))
            | (F.pmod(F.col("net"), 2) != F.pmod(F.col("n_tok"), 2))
        )
        .count()
    )
    assert bad == 0


def test_acid_table_cow_and_time_travel(spark, tmp_path):
    """File-level copy-on-write: a range-aligned DELETE must carry
    every untouched file into the new manifest by reference (same
    path), rewrite only affected files, keep version 0 readable
    (time travel), enforce single-writer-wins on version numbers, and
    vacuum() must reclaim only files no live version references."""
    import pytest
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, root, df)
    m0 = AT.read_manifest(root, 0)
    assert m0["n_files"] >= 4

    AT.delete_where(spark, root, F.col("id") < 100)
    m1 = AT.read_manifest(root, 1)
    shared = set(m0["files"]) & set(m1["files"])
    # ids < 100 live in the first range file(s) only: most files must
    # carry over untouched
    assert len(shared) >= m0["n_files"] - 2, (m0, m1)
    assert set(m1["files"]) - set(m0["files"]), "no rewritten file"

    # snapshot semantics
    assert AT.snapshot(spark, root).count() == 900
    assert AT.snapshot(spark, root, version=0).count() == 1000

    # optimistic concurrency: a second commit to version 1 must fail
    with pytest.raises(AT.ConcurrentCommitError):
        AT._commit(root, 1, "dup", add=[])

    # vacuum keeps the latest version readable, drops v0-only files
    removed = AT.vacuum(root, keep_versions=1)
    assert removed >= 1
    assert AT.snapshot(spark, root).count() == 900
    with pytest.raises(FileNotFoundError):
        AT.read_manifest(root, 0)


def test_acid_delete_null_predicate_keeps_rows(spark, tmp_path):
    """DELETE removes rows where the predicate is TRUE only: rows where
    it evaluates NULL must SURVIVE in rewritten files, exactly as they
    do in untouched files (three-valued logic; ~NULL is NULL, which a
    naive filter(~cond) silently drops — data loss dependent on file
    co-location)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None), (5, 50)],
        "id long, v int",
    ).repartition(1)  # one file: NULL rows co-locate with deleted rows
    AT.init_table(spark, root, df)
    AT.delete_where(spark, root, F.col("v") > 20)
    snap = AT.snapshot(spark, root)
    assert {r["id"] for r in snap.collect()} == {1, 2, 4}  # NULLs kept


def test_acid_clone_zero_copy_divergence(spark, tmp_path):
    """Shallow clone: (a) clone's v0 references the SOURCE's files by
    path (zero copy), (b) writes to either side never change the
    other's content, (c) the documented vacuum caveat is real —
    vacuuming the source after it deletes a file the clone still
    references breaks the clone (Delta shallow-clone contract), so
    the caveat in clone()'s docstring is load-bearing, not
    hypothetical."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, src, df)
    AT.clone(src, dst)
    assert AT.read_manifest(dst, 0)["files"] == AT.read_manifest(
        src, AT.current_version(src)
    )["files"]

    # divergence: append to clone, delete on source
    AT.append(spark, dst, spark.range(1000, 1010).select(
        F.col("id"), F.lit(0).cast("long").alias("grp")))
    AT.delete_where(spark, src, F.col("id") < 100)
    assert AT.snapshot(spark, src).count() == 300
    assert AT.snapshot(spark, dst).count() == 410

    # the documented caveat: source vacuum drops the file the clone
    # still references
    AT.vacuum(src, keep_versions=1)
    import pytest

    with pytest.raises(Exception):
        AT.snapshot(spark, dst).count()


def test_acid_vacuum_keep_more_than_history_is_noop(spark, tmp_path):
    """vacuum(keep_versions=k) with k > committed versions must be a
    no-op, not a crash from a negative version lookup."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(10).select(F.col("id")))
    assert AT.vacuum(root, keep_versions=5) == 0
    assert AT.snapshot(spark, root).count() == 10


def test_acid_merge_rejects_duplicate_update_keys(spark, tmp_path):
    """Multiple source rows for one target key must raise (SQL MERGE /
    Delta contract), never silently insert duplicates."""
    import pytest
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(10).select(F.col("id"), F.lit(1).alias("v"))
    )
    dup_updates = spark.createDataFrame(
        [(3, 7), (3, 8)], "id long, v int"
    )
    with pytest.raises(ValueError, match="duplicate"):
        AT.merge_upsert(spark, root, dup_updates, ["id"])
    assert AT.current_version(root) == 0  # nothing committed


def test_acid_merge_cow_semantics(spark, tmp_path):
    """MERGE must replace matched keys, insert unmatched ones, rewrite
    only the files holding matched keys, and leave the pre-merge
    version readable."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    base = spark.range(0, 400).select(
        F.col("id"), F.lit(1).alias("v")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, root, base)
    updates = spark.createDataFrame(
        [(5, 99), (7, 99), (1000, 99)], "id long, v int"
    )
    AT.merge_upsert(spark, root, updates, ["id"])
    m0, m1 = AT.read_manifest(root, 0), AT.read_manifest(root, 1)
    # ids 5 and 7 live in the first range file; the other three carry
    assert len(set(m0["files"]) & set(m1["files"])) >= m0["n_files"] - 2
    snap = AT.snapshot(spark, root)
    assert snap.count() == 401  # 400 rows, 2 replaced, 1 inserted
    got = {r["id"]: r["v"] for r in snap.filter(
        F.col("id").isin(5, 7, 1000, 8)).collect()}
    assert got == {5: 99, 7: 99, 1000: 99, 8: 1}
    assert AT.snapshot(spark, root, version=0).count() == 400


def test_acid_optimize_and_schema_evolution(spark, tmp_path):
    """OPTIMIZE must be content-identical and layout-only; an append
    with an extra column must widen the schema without rewriting old
    files (they stay in the manifest verbatim; snapshot reads
    null-fill the new column)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    base = spark.range(0, 500).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(8)
    AT.init_table(spark, root, base)
    assert AT.read_manifest(root, 0)["n_files"] >= 8

    AT.optimize(spark, root, target_files=2)
    m1 = AT.read_manifest(root, 1)
    assert m1["n_files"] <= 2
    assert AT.snapshot(spark, root).count() == 500
    assert (
        AT.snapshot(spark, root).agg(F.sum("v")).collect()[0][0]
        == AT.snapshot(spark, root, version=0).agg(F.sum("v")).collect()[0][0]
    )

    wide = spark.createDataFrame(
        [(1000, 0, "tagged")], "id long, v long, tag string"
    )
    AT.append(spark, root, wide)
    m2 = AT.read_manifest(root, 2)
    assert set(m1["files"]) <= set(m2["files"])  # old files untouched
    snap = AT.snapshot(spark, root)
    assert snap.count() == 501
    assert snap.filter(F.col("tag").isNull()).count() == 500
    assert snap.filter(F.col("tag") == "tagged").count() == 1


def test_acid_delta_manifests_commit_cost_stays_flat(spark, tmp_path):
    """Commit cost must be O(changed files), not O(table files): after
    many small appends the per-version delta manifest stays the same
    few-hundred-byte size while the table's live file count grows;
    checkpoints appear on the CHECKPOINT_EVERY cadence; snapshots
    resolve correctly at every version; vacuum across a checkpoint
    boundary keeps the cutoff version readable and reclaims dropped
    files + manifests."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(0, 10).select(F.col("id")).coalesce(1)
    )
    n_appends = AT.CHECKPOINT_EVERY + 8
    sizes = []
    for i in range(1, n_appends + 1):
        v = AT.append(
            spark,
            root,
            spark.range(10 * i, 10 * (i + 1)).select(F.col("id")).coalesce(1),
        )
        assert v == i
        sizes.append(os.path.getsize(AT._manifest_path(root, i)))
    # delta manifests do not grow with the table: the last commit's
    # manifest is no bigger than the first one's (both list ONE file)
    assert max(sizes) <= sizes[0] + 16, sizes
    # checkpoint materialized on cadence (version 0 and CHECKPOINT_EVERY)
    assert os.path.exists(AT._checkpoint_path(root, 0))
    assert os.path.exists(AT._checkpoint_path(root, AT.CHECKPOINT_EVERY))
    # every version resolves to the right closed row set
    assert AT.snapshot(spark, root).count() == 10 * (n_appends + 1)
    assert AT.snapshot(spark, root, version=3).count() == 40
    m = AT.read_manifest(root, AT.CHECKPOINT_EVERY + 2)
    assert m["n_files"] == AT.CHECKPOINT_EVERY + 3

    # a delete then vacuum: cutoff version must stay resolvable after
    # earlier manifests are gone, and dropped-only files are reclaimed
    AT.delete_where(spark, root, F.col("id") < 10)
    # keep only the post-delete version: v0's rewritten-away file is
    # referenced by no surviving snapshot and must be reclaimed
    removed = AT.vacuum(root, keep_versions=1)
    assert removed >= 1
    assert AT.snapshot(spark, root).count() == 10 * n_appends
    import pytest

    with pytest.raises(FileNotFoundError):
        AT.read_manifest(root, 0)
    # vacuum again with nothing left to drop: no-op, still readable
    assert AT.vacuum(root, keep_versions=1) == 0
    assert AT.snapshot(spark, root).count() == 10 * n_appends


def test_acid_concurrent_appends_all_land(spark, tmp_path):
    """Appends conflict with nothing: N writers racing for version
    numbers must ALL land (losers rebase and re-commit their already-
    durable files), versions stay dense, and the final snapshot holds
    every row exactly once."""
    import threading

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(0, 10).select(F.col("id")).coalesce(1)
    )
    n_writers = 4
    barrier = threading.Barrier(n_writers)
    errors = []

    def writer(i: int) -> None:
        try:
            df = spark.range(100 * (i + 1), 100 * (i + 1) + 10).select(
                F.col("id")
            ).coalesce(1)
            # pre-write OUTSIDE the race so every thread reaches the
            # commit loop at the same instant and collisions actually
            # happen (files are durable before any commit attempt)
            barrier.wait(timeout=60)
            AT.append(spark, root, df, op=f"append-{i}")
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append((i, exc))

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert AT.current_version(root) == n_writers  # dense versions
    snap = AT.snapshot(spark, root)
    assert snap.count() == 10 + 10 * n_writers
    # every writer's rows present exactly once
    for i in range(n_writers):
        assert (
            snap.filter(
                (F.col("id") >= 100 * (i + 1))
                & (F.col("id") < 100 * (i + 1) + 10)
            ).count()
            == 10
        )


def test_acid_restore_round_trips(spark, tmp_path):
    """RESTORE to an old version is a metadata-only new commit whose
    snapshot equals the target exactly; it is itself undoable by
    another restore; vacuum after restore keeps the head readable."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark,
        root,
        spark.range(0, 400).select(F.col("id")).repartitionByRange(4, "id"),
    )
    AT.delete_where(spark, root, F.col("id") < 100)
    assert AT.snapshot(spark, root).count() == 300
    v = AT.restore(spark, root, 0)
    assert v == 2
    assert AT.snapshot(spark, root).count() == 400  # back to v0 content
    m = AT.read_manifest(root, 2, resolve=False)
    assert m["op"] == "restore-v0" and m["add"] and m["remove"]
    # restore of the restore: back to the post-delete state
    AT.restore(spark, root, 1)
    assert AT.snapshot(spark, root).count() == 300
    # vacuum to just the head: still readable, old versions gone
    AT.vacuum(root, keep_versions=1)
    assert AT.snapshot(spark, root).count() == 300


@SETTINGS
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=3600),   # ts offset sec
        ),
        min_size=1,
        max_size=30,
    )
)
def test_interval_merge_invariants(spark, events):
    """For ANY event set: per user, total covered time <= n*300s and
    >= 300s per interval count; interval count is between 1 and n;
    and the covered time equals the exact union computed by an
    independent Python sweep."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.queries.windows import win_interval_merge  # noqa: F401
    from bitcoin_olap_spark.registry import all_queries  # noqa: F401

    # build the same shape win_interval_merge consumes, inline
    df = spark.createDataFrame(
        [(u, 1_000_000 * t) for u, t in events], "user_id long, s long"
    ).select("user_id", "s", (F.col("s") + 300_000_000).alias("e"))
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.withColumn(
        "new_iv",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0).otherwise(1),
    )
    islands = flagged.withColumn("island", F.sum("new_iv").over(w_run))
    got = {
        r["user_id"]: (r["n"], r["cov"])
        for r in islands.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("span"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("span").alias("cov")
        )
        .collect()
    }
    # independent reference: classic sweep over sorted intervals
    per_user: dict[int, list[tuple[int, int]]] = {}
    for u, t in events:
        per_user.setdefault(u, []).append(
            (1_000_000 * t, 1_000_000 * t + 300_000_000)
        )
    for u, ivs in per_user.items():
        merged = []
        for s, e in sorted(ivs):
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        n_ref = len(merged)
        cov_ref = sum(e - s for s, e in merged)
        assert got[u] == (n_ref, cov_ref), (u, got[u], (n_ref, cov_ref))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 4)),
            st.tuples(st.just("delete"), st.integers(0, 9)),
            st.just(("optimize", 0)),
            st.tuples(st.just("restore"), st.integers(0, 5)),
        ),
        min_size=1,
        max_size=7,
    )
)
def test_acid_model_based_op_sequences(spark, tmp_path_factory, ops):
    """Model-based check of the WHOLE ACID subsystem: run an arbitrary
    sequence of append / delete / optimize / restore against both the
    real table and a pure-Python reference ledger of row multisets per
    version; after every op and at the end, the snapshot of every
    still-resolvable version must equal the model exactly. Catches
    cross-op interactions (restore of an optimize of a delete...) no
    single-op test sees."""
    from collections import Counter

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path_factory.mktemp("acid_model") / "tbl")
    base_rows = [(i, i % 10) for i in range(30)]
    AT.init_table(
        spark,
        root,
        spark.createDataFrame(base_rows, "id long, grp long").coalesce(2),
    )
    model = {0: Counter(base_rows)}  # version -> row multiset
    head = 0
    next_id = 1000
    for op, arg in ops:
        if op == "append":
            rows = [(next_id + j, (next_id + j) % 10) for j in range(3 + arg)]
            next_id += 100
            AT.append(
                spark,
                root,
                spark.createDataFrame(rows, "id long, grp long").coalesce(1),
            )
            head += 1
            model[head] = model[head - 1] + Counter(rows)
        elif op == "delete":
            AT.delete_where(spark, root, F.col("grp") == arg)
            head += 1
            model[head] = Counter(
                {r: c for r, c in model[head - 1].items() if r[1] != arg}
            )
        elif op == "optimize":
            AT.optimize(spark, root, target_files=2)
            head += 1
            model[head] = Counter(model[head - 1])
        else:  # restore to min(arg, head)
            tgt = min(arg, head)
            AT.restore(spark, root, tgt)
            head += 1
            model[head] = Counter(model[tgt])
        got = Counter(
            (r["id"], r["grp"])
            for r in AT.snapshot(spark, root).collect()
        )
        assert got == model[head], (op, arg, head)
    # time travel: every logged version still resolves to its model
    for v in range(head + 1):
        got = Counter(
            (r["id"], r["grp"])
            for r in AT.snapshot(spark, root, version=v).collect()
        )
        assert got == model[v], v

def test_acid_append_idempotent_race_branches(spark, tmp_path):
    """Pins the streaming sink's commit protocol
    (acidtable.append_idempotent) branch by branch:
    (1) pre-check skip: an op already in the log writes nothing;
    (2) REBASE: losing the version race to a FOREIGN commit retries
        onto the new head — the batch still lands, nothing dropped;
    (3) RECLAIM: losing the race to a retry of THIS op unlinks the
        loser's orphan files and skips — no duplicate batch, no
        orphan parquet left on disk."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 5).coalesce(1))

    def all_referenced() -> set:
        return {
            f
            for v in range(AT.current_version(root) + 1)
            for f in AT.read_manifest(root, v)["files"]
        }

    def on_disk() -> set:
        return set(
            glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        )

    # (1) pre-check skip
    v = AT.append_idempotent(
        spark, root, spark.range(10, 15).coalesce(1), op="batch-1"
    )
    assert v == 1
    before = on_disk()
    assert AT.append_idempotent(
        spark, root, spark.range(99, 120).coalesce(1), op="batch-1"
    ) is None
    assert on_disk() == before  # nothing written for the replay
    assert AT.current_version(root) == 1

    # (2) rebase on a foreign race: a competing writer steals every
    # version number the victim tries, several times in a row
    orig_commit = AT._commit
    steals = {"n": 3}

    def stealing_commit(r, version, op, *, add=(), remove=()):
        if op == "batch-2" and steals["n"] > 0:
            steals["n"] -= 1
            orig_commit(
                r, version, f"foreign-{steals['n']}", add=[], remove=[]
            )
        return orig_commit(r, version, op, add=add, remove=remove)

    AT._commit = stealing_commit
    try:
        v = AT.append_idempotent(
            spark, root, spark.range(20, 25).coalesce(1), op="batch-2"
        )
    finally:
        AT._commit = orig_commit
    assert steals["n"] == 0 and v == AT.current_version(root)
    ops = AT.committed_ops(root)
    assert "batch-2" in ops and {"foreign-0", "foreign-1", "foreign-2"} <= ops
    snap = AT.snapshot(spark, root)
    assert snap.filter((F.col("id") >= 20) & (F.col("id") < 25)).count() == 5

    # (3) reclaim: between the victim's pre-check and its commit, a
    # retry of the SAME op lands (the foreachBatch-replay race) —
    # the victim must unlink its orphans and skip
    retried = {"done": False}

    def retry_commit(r, version, op, *, add=(), remove=()):
        if op == "batch-3" and not retried["done"]:
            retried["done"] = True
            files = AT._write_data_files(
                spark.range(30, 35).coalesce(1), r
            )
            orig_commit(r, version, "batch-3", add=files, remove=[])
        return orig_commit(r, version, op, add=add, remove=remove)

    AT._commit = retry_commit
    try:
        v = AT.append_idempotent(
            spark, root, spark.range(30, 35).coalesce(1), op="batch-3"
        )
    finally:
        AT._commit = orig_commit
    assert retried["done"] and v is None
    assert sorted(AT.committed_ops(root)).count("batch-3") == 1
    # batch-3's rows exactly once, and ZERO orphan files on disk
    snap = AT.snapshot(spark, root)
    assert snap.filter((F.col("id") >= 30) & (F.col("id") < 35)).count() == 5
    assert on_disk() == all_referenced()

def test_asof_nearest_carries_whole_row_even_with_null_values(spark):
    """Regression (r5 advisory): asof_join_nearest must take ALL
    carried fields from the SAME nearest right row — when the nearest
    row's value column is genuinely NULL, the output value is that
    NULL, never a non-null smuggled in from an older right row (the
    per-column last(ignorenulls) formulation did exactly that)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.temporal import asof_join_nearest

    def ts(s):
        return F.to_timestamp(F.lit(s))

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, t string"
    ).select("k", F.to_timestamp("t").alias("ts"))
    # nearest right row (10:00:01) has v = NULL; an older row (09:00)
    # has v = 7.0 — the buggy formulation returned 7.0
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 7.0),
            (1, "2024-01-01 10:00:01", None),
        ],
        "k long, t string, v double",
    ).select("k", F.to_timestamp("t").alias("ts"), "v")
    out = asof_join_nearest(left, right, "k", "ts", ["v"]).collect()
    assert len(out) == 1
    assert out[0]["v"] is None

    # and with two value columns, both must come from the nearest row
    right2 = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 7.0, "old"),
            (1, "2024-01-01 10:00:01", None, "near"),
        ],
        "k long, t string, v double, tag string",
    ).select("k", F.to_timestamp("t").alias("ts"), "v", "tag")
    out = asof_join_nearest(left, right2, "k", "ts", ["v", "tag"]).collect()
    assert out[0]["v"] is None and out[0]["tag"] == "near"


@SETTINGS
@given(
    xs=st.lists(
        st.integers(min_value=-(1 << 40), max_value=1 << 40),
        min_size=1,
        max_size=40,
    )
)
def test_holt_fold_matches_python_reference(spark, xs):
    """holt_linear_per_group's JVM struct fold == the recurrence run
    as a plain Python loop (floor divisions), for any int series incl.
    negatives and single-point groups."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.temporal import (
        holt_linear_per_group,
    )

    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "k string, i int, xq long"
    )
    got = holt_linear_per_group(df, "k", ("i",), "xq").collect()[0]
    l, b = xs[0], 0
    for x in xs[1:]:
        nl = (x + l + b) // 2
        b = ((nl - l) + b) // 2
        l = nl
    assert (got["n_pts"], got["level_q"], got["trend_q"]) == (
        len(xs),
        l,
        b,
    )
    assert got["forecast_q"] == l + b


@SETTINGS
@given(
    xs=st.lists(
        st.integers(min_value=-(1 << 40), max_value=1 << 40),
        min_size=1,
        max_size=40,
    )
)
def test_holt_winters_fold_matches_python_reference(spark, xs):
    """holt_winters_per_group's JVM fold (seasonal circular buffer in
    the struct accumulator) == the additive HW recurrence as a plain
    Python loop, for any int series — exercising n < m (guarded:
    floor-mean level, zero trend/season), n == m, and n > m where the
    seasonal slots update circularly."""
    from bitcoin_olap_spark.operators.temporal import (
        holt_winters_per_group,
    )

    m = 7
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "k string, i int, xq long"
    )
    got = holt_winters_per_group(df, "k", ("i",), "xq", m=m).collect()[0]
    mm = min(len(xs), m)
    s0 = sum(xs[:mm])
    l = (s0 - (((s0 % mm) + mm) % mm)) // mm
    b = 0
    season = [x - l for x in xs[:mm]]
    for p, x in enumerate(xs[m:]):
        j = p % m
        sp = season[j]
        nl = (x - sp + l + b) // 2
        b = ((nl - l) + b) // 2
        season[j] = ((x - nl) + sp) // 2
        l = nl
    n = len(xs)
    sq = season[n % m] if n >= m else 0
    assert (
        got["n_pts"],
        got["level_q"],
        got["trend_q"],
        got["season_q"],
        got["forecast_q"],
    ) == (n, l, b, sq, l + b + sq)


@SETTINGS
@given(
    spans=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=100),
        ).map(lambda t: (min(t), max(t))),
        min_size=2,
        max_size=12,
    )
)
def test_interval_overlap_matches_naive(spark, spans):
    """The banded-equi-join overlap shape == the naive all-pairs
    O(n^2) reference on one band: every pair (i < j) with
    s_i <= e_j and s_j <= e_i appears exactly once with the exact
    overlap length (touching endpoints give 0, disjoint pairs are
    absent)."""
    from pyspark.sql import functions as F

    rows = [("u", str(i), s, e) for i, (s, e) in enumerate(spans)]
    df = spark.createDataFrame(rows, "k string, tag string, s long, e long")
    a, b = df.alias("a"), df.alias("b")
    got = {
        (r["ta"], r["tb"]): r["ov"]
        for r in a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.tag") < F.col("b.tag"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.tag").alias("ta"),
            F.col("b.tag").alias("tb"),
            (
                F.least("a.e", "b.e") - F.greatest("a.s", "b.s")
            ).alias("ov"),
        )
        .collect()
    }
    want = {}
    for i, (s1, e1) in enumerate(spans):
        for j, (s2, e2) in enumerate(spans):
            if str(i) < str(j) and s1 <= e2 and s2 <= e1:
                want[(str(i), str(j))] = min(e1, e2) - max(s1, s2)
    assert got == want


def test_acid_committed_ops_survive_vacuum(spark, tmp_path):
    """Exactly-once history must survive table maintenance: after
    vacuum() physically removes old manifests, committed_ops() still
    returns their op tags (the cutoff checkpoint carries them, as
    Delta's checkpoints carry txn appIds) and append_idempotent still
    (a) runs without crashing on the vacuumed log and (b) skips a
    replay of a PRE-vacuum batch."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(5).select(F.col("id")))
    for i in range(3):
        assert (
            AT.append_idempotent(
                spark, root, spark.range(5).select(F.col("id")), f"b-{i}"
            )
            is not None
        )
    AT.vacuum(root, keep_versions=1)
    # manifests 0..2 are gone, but their tags must survive
    ops = AT.committed_ops(root)
    assert {"init", "b-0", "b-1", "b-2"} <= ops
    # a replayed pre-vacuum batch must be recognized and skipped
    assert (
        AT.append_idempotent(
            spark, root, spark.range(5).select(F.col("id")), "b-0"
        )
        is None
    )
    # and a genuinely new batch still commits exactly once
    assert (
        AT.append_idempotent(
            spark, root, spark.range(5).select(F.col("id")), "b-9"
        )
        is not None
    )
    assert AT.snapshot(spark, root).count() == 25


def test_acid_committed_ops_cache_incremental_and_recreate(spark, tmp_path):
    """committed_ops must (a) include commits made after an earlier
    call in the same process and (b) never return tags of a table
    dropped and recreated at the same root."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(3).select(F.col("id"))
    AT.init_table(spark, root, df)
    AT.append_idempotent(spark, root, df, "x-1")
    assert "x-1" in AT.committed_ops(root)
    AT.append_idempotent(spark, root, df, "x-2")
    assert "x-2" in AT.committed_ops(root)  # a later commit shows up

    # recreate the table at the same root: old tags must vanish
    import shutil

    shutil.rmtree(root)
    AT.init_table(spark, root, df)
    AT.append_idempotent(spark, root, df, "y-1")
    ops = AT.committed_ops(root)
    assert "y-1" in ops and "x-1" not in ops


def test_asof_backward_carries_whole_row_even_with_null_values(spark):
    """Same regression for the backward-only asof_join: all carried
    fields come from THE latest right row at-or-before, so a NULL
    value on that row surfaces as NULL (never back-filled from an
    older right row), and 'inner' drops only truly unmatched left
    rows — a matched row with a NULL carried value survives, as in
    SQL ASOF INNER JOIN."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")],
        "k long, t string",
    ).select("k", F.to_timestamp("t").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 08:00:00", 7.0, "old"),
            (1, "2024-01-01 09:00:00", None, "latest"),
        ],
        "k long, t string, v double, tag string",
    ).select("k", F.to_timestamp("t").alias("ts"), "v", "tag")

    out = {r["k"]: r for r in asof_join(
        left, right, "k", "ts", ["v", "tag"]
    ).collect()}
    # k=1 matches the 09:00 row: v must be its NULL, tag its 'latest'
    assert out[1]["v"] is None and out[1]["tag"] == "latest"
    # k=2 has no right row at all -> NULLs under how='left'
    assert out[2]["v"] is None and out[2]["tag"] is None

    inner = {r["k"] for r in asof_join(
        left, right, "k", "ts", ["v", "tag"], how="inner"
    ).collect()}
    assert inner == {1}  # matched-with-NULL survives, unmatched drops


def test_jaccard_dfcap_superset_invariant(spark):
    """The df-capped candidate path must (a) never emit a pair the
    exact (uncapped) operator doesn't, (b) agree exactly on every
    emitted pair's jaccard, and (c) only ever MISS a pair whose
    shared shingles are ALL over the cap (the documented-lossy mode:
    boilerplate-only overlap). Checked at several cap levels
    including one that drops candidates and the no-op level."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.dedup import jaccard_pairs
    from bitcoin_olap_spark.operators.text import shingle_array

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", "text").collect()
    }
    assert exact, "corpus has no planted near-dups?"

    # per-doc shingle sets + corpus df, for auditing missed pairs
    sh = docs.select(
        "doc_id",
        F.explode(shingle_array("text", 3, distinct=True)).alias("s"),
    )
    dfreq = {
        r.s: r.c
        for r in sh.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1).collect()
    }
    byd = {}
    for r in sh.collect():
        byd.setdefault(r.doc_id, set()).add(r.s)

    for cap in (1, 2, 4, 10_000):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs(
                docs, "doc_id", "text", df_cap=cap
            ).collect()
        }
        assert set(got) <= set(exact), (cap, set(got) - set(exact))
        for k, v in got.items():
            assert v == exact[k], (cap, k)
        for a, b in set(exact) - set(got):
            shared = byd[a] & byd[b]
            assert shared and all(
                dfreq.get(s, 1) > cap for s in shared
            ), f"cap={cap} missed ({a},{b}) with an under-cap shingle"
    # a cap above every df is a no-op: identical output
    assert got == exact


def test_dfcap_is_relational_no_driver_hot_set(spark):
    """The df-cap path must stay fully relational: the hot-shingle
    vocabulary is removed via a LEFT ANTI join, never collected to
    the driver or cross-joined as a broadcast array — so no corpus
    size can melt the driver (this replaced the r6-early max_hot
    gate, which existed only to protect a since-removed broadcast
    collect). Pin the plan shape: an anti join is present, no
    cartesian/nested-loop product is."""
    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.dedup import jaccard_pairs

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        jaccard_pairs(docs, "doc_id", "text", df_cap=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_acid_data_skipping_prunes_files(spark, tmp_path):
    """snapshot_pruned must (a) return exactly the rows the full-scan
    filter returns, (b) actually SKIP files on range-clustered layout
    (files_read < files_total), (c) read an appended file whose range
    meets the probe (the append names no stats_cols, yet its footer
    stats are recorded because they are a table property)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(0, 8000).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    ).repartitionByRange(8, "id")
    AT.init_table(spark, root, df, stats_cols=("id",))

    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "id", 2000, 2999
    )
    assert n_total >= 8 and n_read < n_total, (n_read, n_total)
    full = AT.snapshot(spark, root).filter(
        (F.col("id") >= 2000) & (F.col("id") <= 2999)
    )
    assert pruned.count() == full.count() == 1000

    # a stats-less append must never be skipped
    AT.append(spark, root, spark.range(2500, 2510).select(
        F.col("id"), F.lit(9).cast("long").alias("grp")).coalesce(1))
    pruned2, n_read2, n_total2 = AT.snapshot_pruned(
        spark, root, "id", 2000, 2999
    )
    assert n_total2 == n_total + 1 and n_read2 == n_read + 1
    assert pruned2.count() == 1010


def test_acid_clone_vacuum_never_unlinks_source_files(spark, tmp_path):
    """Vacuum obeys Delta's table-root containment rule: a shallow
    clone's manifests reference the SOURCE's absolute file paths, so
    delete/merge on the clone followed by vacuum ON THE CLONE must
    drop those files from the clone's metadata only — never physically
    unlink a file outside the clone's own data/ directory. (The
    opposite direction — source vacuum breaking the clone — is the
    documented Delta caveat, covered by
    test_acid_clone_zero_copy_divergence.)"""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    src = str(tmp_path / "src")
    cln = str(tmp_path / "cln")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, src, df)
    AT.clone(src, cln)
    src_files = AT.read_manifest(src)["files"]

    # rewrite SOURCE-owned files through the clone, then vacuum the
    # clone hard enough that those files leave its live set entirely
    AT.delete_where(spark, cln, F.col("id") < 300)
    AT.optimize(spark, cln, target_files=2)
    AT.vacuum(cln, keep_versions=1)

    # every source-owned file is physically intact; both tables read
    for f in src_files:
        assert os.path.exists(f), f"clone vacuum unlinked source file {f}"
    assert AT.snapshot(spark, src).count() == 400
    assert AT.snapshot(spark, cln).count() == 100
    # and the clone's vacuum still reclaims its OWN dead files: the
    # delete_where rewrite (pre-optimize) lived under cln's data/
    # and must be gone now that only the head is retained
    live = set(AT.read_manifest(cln)["files"])
    cln_data = os.path.join(cln, "data")
    on_disk = {
        os.path.join(p, f)
        for p, _, fs in os.walk(cln_data)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == {f for f in live if f.startswith(cln_data)}


def test_acid_stats_null_and_nonjson_types(spark, tmp_path):
    """Write-side file stats must survive JSON serialization for
    timestamp/date/decimal columns, and snapshot_pruned must (a) treat
    a null min/max (all-NULL file) as 'no stats — keep', never crash,
    (b) compare encoded timestamp stats correctly, (c) decode decimal
    stats numerically (string order != numeric order: '9.5' > '10.5'
    lexicographically)."""
    import datetime
    import decimal

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, ts timestamp, dec decimal(10,2)"
    ).coalesce(1)
    jan = mk([(i, datetime.datetime(2024, 1, 10 + i),
               decimal.Decimal(f"{9 + i}.50")) for i in range(3)])
    nulls = mk([(100 + i, None, None) for i in range(3)])
    mar = mk([(200 + i, datetime.datetime(2024, 3, 10 + i),
               decimal.Decimal(f"{100 + i}.50")) for i in range(3)])
    # json.dump of datetime/Decimal stats crashes without encoding —
    # these three commits ARE the serialization regression test
    AT.init_table(spark, root, jan, stats_cols=("ts", "dec"))
    AT.append(spark, root, nulls, stats_cols=("ts", "dec"))
    AT.append(spark, root, mar, stats_cols=("ts", "dec"))

    # timestamp range over January: the March file skips, the all-NULL
    # file is kept (no stats), and the exact filter still drops its rows
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "ts",
        datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 31),
    )
    assert n_total == 3 and n_read == 2, (n_read, n_total)
    assert sorted(r["id"] for r in pruned.collect()) == [0, 1, 2]

    # decimal range [9.50, 11.50]: string-comparing '100.50' <= '11.50'
    # would wrongly ADMIT March rows into the exact filter's input and
    # wrongly looks like it could skip Jan — numeric decode keeps Jan
    # (9.50-11.50) and skips Mar (100.50-102.50)
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "dec",
        decimal.Decimal("9.50"), decimal.Decimal("11.50"),
    )
    assert n_read == 2, (n_read, n_total)  # jan + null-stats file
    assert sorted(r["id"] for r in pruned.collect()) == [0, 1, 2]


def test_acid_ops_cache_ignores_recreated_table_tag_coincidence(
    spark, tmp_path
):
    """A table dropped and recreated at the same root, whose
    SAME-NUMBERED head version carries the SAME generic op tag
    ('append'), must not report the old table's tags: otherwise
    append_idempotent would silently skip a legitimate first-time
    batch on the new table."""
    import shutil

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(3).select(F.col("id"))
    AT.init_table(spark, root, df)                      # v0 'init'
    AT.append_idempotent(spark, root, df, "batch-1")    # v1 'batch-1'
    AT.append(spark, root, df)                          # v2 'append'
    assert "batch-1" in AT.committed_ops(root)  # head=2, 'append'

    shutil.rmtree(root)
    AT.init_table(spark, root, df)                      # v0 'init'
    AT.append(spark, root, df)                          # v1 'append'
    AT.append(spark, root, df)                          # v2 'append'
    # same head version, same tag: only the new table's own log may
    # answer
    assert "batch-1" not in AT.committed_ops(root)
    v = AT.append_idempotent(spark, root, df, "batch-1")
    assert v is not None, "first-time batch skipped on recreated table"
    assert AT.snapshot(spark, root).count() == 12


def _metadata_only_table(spark, root, n_commits):
    """An ACID table at version `n_commits`: init_table, then
    `n_commits` commits that add no file, tagged op-1 .. op-n."""
    from bitcoin_olap_spark.operators import acidtable as AT

    AT.init_table(spark, root, spark.range(3).select("id"))
    for v in range(1, n_commits + 1):
        AT._commit(root, v, f"op-{v}")
    return {"init", *(f"op-{v}" for v in range(1, n_commits + 1))}


def test_acid_committed_ops_reads_from_nearest_checkpoint(
    spark, tmp_path, monkeypatch
):
    """committed_ops answers from the head snapshot: a first call on a
    40-version table (checkpoints at 0, 16 and 32) reads only the
    manifests above the nearest checkpoint, not the whole log, and
    still returns every tag the log ever committed."""
    import os

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    want = _metadata_only_table(spark, root, 40)
    assert AT.current_version(root) == 40
    for v in (0, 16, 32):
        assert os.path.exists(AT._checkpoint_path(root, v))
    reads = []
    real = AT._read_raw

    def counted(r, v):
        reads.append(v)
        return real(r, v)

    monkeypatch.setattr(AT, "_read_raw", counted)
    assert AT.committed_ops(root) == want
    assert len(reads) <= AT.CHECKPOINT_EVERY, reads


def test_acid_committed_ops_survive_concurrent_vacuum(
    spark, tmp_path, monkeypatch
):
    """A vacuum that unlinks manifests while committed_ops walks the
    log must not lose a tag: vacuum checkpoints its cutoff before it
    unlinks, and committed_ops walks once more from the head. A replay
    of a pre-vacuum op afterwards is still skipped."""
    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    want = _metadata_only_table(spark, root, 5)
    real = AT._read_raw
    ran = []

    def vacuum_first(r, v):
        if not ran:
            ran.append(v)
            AT.vacuum(root, keep_versions=1)
        return real(r, v)

    monkeypatch.setattr(AT, "_read_raw", vacuum_first)
    assert AT.committed_ops(root) == want
    assert ran and AT._earliest_version(root) == 5  # vacuum did run
    monkeypatch.setattr(AT, "_read_raw", real)
    df = spark.range(3).select("id")
    assert AT.append_idempotent(spark, root, df, "op-2") is None
    assert AT.append_idempotent(spark, root, df, "init") is None
    assert AT.current_version(root) == 5


def test_acid_cow_writers_resolve_head_once(spark, tmp_path, monkeypatch):
    """delete_where and merge_upsert resolve the head snapshot once:
    the deletion-vector interlock and the rewrite share one walk of
    the log. Both commit at versions that are not checkpoints, so
    _commit resolves nothing itself."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 20).select("id"))
    calls = []
    real = AT._resolve

    def counted(r, v):
        calls.append(v)
        return real(r, v)

    monkeypatch.setattr(AT, "_resolve", counted)
    assert AT.delete_where(spark, root, F.col("id") < 5) == 1
    assert calls == [0]
    calls.clear()
    updates = spark.range(3, 8).select("id")
    assert AT.merge_upsert(spark, root, updates, ["id"]) == 2
    assert calls == [1]
    monkeypatch.setattr(AT, "_resolve", real)
    assert sorted(r.id for r in AT.snapshot(spark, root).collect()) == list(
        range(3, 20)
    )


@SETTINGS
@given(
    seq=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # key
            st.booleans(),                             # is_buy
            st.integers(min_value=0, max_value=50),    # qty
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fifo_match_equals_python_queue_walk(spark, seq):
    """fifo_match's cumulative-interval-overlap formulation must
    produce LOT-FOR-LOT the same (buy, sell, qty) matches as the
    literal sequential FIFO queue walk, for any interleaving of buys
    and sells across keys — including zero quantities, sells
    exceeding buys (unmatched tail), and buys never consumed."""
    from bitcoin_olap_spark.operators.temporal import fifo_match

    rows = [
        (k, i, b, q) for i, (k, b, q) in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "k long, oid long, is_buy boolean, qty long"
    )
    got = sorted(
        (r["k"], r["buy_id"], r["sell_id"], r["qty_q"])
        for r in fifo_match(
            df.filter("is_buy"),
            df.filter("NOT is_buy"),
            "k",
            "oid",
            "qty",
        ).collect()
        if r["qty_q"] > 0
    )
    # reference: per-key sequential queue walk
    want = []
    from collections import defaultdict, deque

    buys = defaultdict(deque)
    for k, oid, is_buy, q in rows:
        if is_buy and q > 0:
            buys[k].append([oid, q])
    for k, oid, is_buy, q in rows:
        if is_buy:
            continue
        need = q
        dq = buys[k]
        while need > 0 and dq:
            boid, avail = dq[0]
            take = min(avail, need)
            want.append((k, boid, oid, take))
            need -= take
            if take == avail:
                dq.popleft()
            else:
                dq[0][1] -= take
    # NOTE the queue walk consumes buys in ORDER regardless of
    # interleaving (a sell "before" a later buy still matches it on
    # the quantity axis) — that is fifo_match's documented semantics:
    # FIFO over the ORDERED sequences, not a temporal constraint
    assert got == sorted(want), (got, want)


@SETTINGS
@given(
    a=st.lists(
        st.integers(min_value=-(1 << 40), max_value=1 << 40),
        min_size=1,
        max_size=10,
    ),
    b=st.lists(
        st.integers(min_value=-(1 << 40), max_value=1 << 40),
        min_size=1,
        max_size=10,
    ),
)
def test_dtw_fold_matches_python_dp(spark, a, b):
    """dtw_final_row's prefix-sum/prefix-min factorization == the
    textbook O(n*m) DTW DP run as a plain Python loop, for any int
    series including negatives and length-1 edges."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.temporal import dtw_final_row

    df = spark.createDataFrame(
        [(a, b)], "a array<long>, b array<long>"
    )
    got = df.select(
        F.element_at(
            dtw_final_row(F.col("a"), F.col("b")), F.size("b")
        ).alias("d")
    ).collect()[0]["d"]
    inf = float("inf")
    prev = None
    for ai in a:
        row = []
        for j, bj in enumerate(b):
            e = abs(ai - bj)
            if prev is None:
                best = row[j - 1] if j else 0
            else:
                best = min(
                    prev[j],
                    prev[j - 1] if j else inf,
                    row[j - 1] if j else inf,
                )
            row.append(e + best)
        prev = row
    assert got == prev[-1]


def test_acid_bloom_lookup_prunes_and_never_loses_rows(spark, tmp_path):
    """snapshot_bloom_lookup must (a) return exactly the full-scan
    equality rows for present keys (no false negatives — the probe
    reuses the writer's xxhash64 expression), (b) actually SKIP files
    on a hash-random layout where min/max stats cannot (each key
    lives in ~1 of 8 files), (c) read nothing but return empty for an
    absent key unless a false positive fires, and (d) never skip a
    bloom-less append."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).repartition(8)
    AT.init_table(spark, root, df, bloom_cols=("id",))

    total_read = 0
    for key in (0, 17, 1234, 3999):
        got, n_read, n_total = AT.snapshot_bloom_lookup(
            spark, root, "id", key
        )
        assert n_total >= 8
        assert got.count() == 1
        total_read += n_read
    # hash layout: each key lives in one file; blooms must beat the
    # full scan decisively across the 4 lookups even with fp slack
    assert total_read < 4 * 8, total_read

    got, n_read, _ = AT.snapshot_bloom_lookup(spark, root, "id", 99999)
    assert got.count() == 0

    # a bloom-less append must never be skipped
    AT.append(spark, root, spark.range(50000, 50001).select(
        F.col("id"), F.lit(9).cast("long").alias("grp")).coalesce(1))
    got2, n_read2, n_total2 = AT.snapshot_bloom_lookup(
        spark, root, "id", 50000
    )
    assert got2.count() == 1


@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["apple", "bear", "cat", "dog", "elk"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_bm25_matches_python_reference(spark, docs):
    """bm25_topk_sparse == a from-scratch Python Okapi BM25 (k1=1.2,
    b=0.75, RSJ idf, query tf weighting) on arbitrary tiny corpora —
    an INDEPENDENT reference, not the oracle's SQL replay, so a
    formulation bug shared by both engine twins would still surface."""
    import math

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.vectors import bm25_topk_sparse

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk_sparse(
            df, "doc_id", "text", lambda c: c < 2, k=100
        ).collect()
    }
    # independent reference
    tf = [{w: ws.count(w) for w in set(ws)} for ws in docs]
    n = len(docs)
    df_ = {}
    for t in tf:
        for w in t:
            df_[w] = df_.get(w, 0) + 1
    dl = [len(ws) for ws in docs]
    avgdl = sum(dl) / n
    want = {}
    for q in range(min(2, n)):
        for c in range(n):
            if c == q:
                continue
            s = 0.0
            for w, tfq in tf[q].items():
                if w not in tf[c]:
                    continue
                idf = math.log(1.0 + (n - df_[w] + 0.5) / (df_[w] + 0.5))
                tfc = tf[c][w]
                sat = tfc * (1.2 + 1.0) / (
                    tfc + 1.2 * (0.25 + 0.75 * dl[c] / avgdl)
                )
                s += tfq * idf * sat
            if s != 0.0:
                want[(q, c)] = round(s, 6)
    assert got == {k: v for k, v in want.items()}


def test_boosters_fused_equal_loop(spark):
    """The fused-control-plane boosters (N rounds per collect job,
    argmin/argmax as in-plan 1-row relations) must produce EXACTLY the
    loop versions' output — same integer mass/prediction algebra, same
    stumps, same eps/alpha/sse — at every fuse width."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.ml import ensemble as E

    from .conftest import SF_TEST

    e = table(spark, SF_TEST, "events")
    ada_cells = (
        e.select(
            F.hour("ts").cast("long").alias("f1"),
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7)
            .cast("long")
            .alias("f2"),
            F.least(
                F.floor(F.col("value") / 50).cast("long"), F.lit(9)
            ).alias("f3"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(-1)
            .alias("y"),
        )
        .groupBy("f1", "f2", "f3", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    gbt_cells = (
        e.select(
            F.hour("ts").cast("long").alias("f1"),
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7)
            .cast("long")
            .alias("f2"),
            F.round(F.col("value") * 10000).cast("long").alias("y"),
        )
        .groupBy("f1", "f2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
    )
    ada = sorted(
        map(tuple, E.adaboost_cells(spark, ada_cells, {1: 24, 2: 7, 3: 10}, 3).collect())
    )
    gbt = sorted(
        map(tuple, E.gbt_cells(spark, gbt_cells, {1: 24, 2: 7}, 3).collect())
    )
    for fuse in (1, 2, 3):
        assert ada == sorted(map(tuple, E.adaboost_cells_fused(
            spark, ada_cells, {1: 24, 2: 7, 3: 10}, 3, fuse=fuse
        ).collect()))
        assert gbt == sorted(map(tuple, E.gbt_cells_fused(
            spark, gbt_cells, {1: 24, 2: 7}, 3, fuse=fuse
        ).collect()))


def test_acid_zorder_improves_second_dimension_skipping(spark, tmp_path):
    """optimize_zorder must (a) preserve content exactly, (b) keep
    first-dimension pruning effective, and (c) make range queries on
    the SECOND clustered column prune files where the original
    single-column-clustered layout read every file (the whole point
    of multi-dimensional clustering: each z-contiguous file has a
    tight min/max envelope on every clustered dimension)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    # c2 is a deterministic pseudo-random permutation of the domain —
    # on a c1-range-clustered layout every file spans ~all of c2
    df = spark.range(0, 64_000).select(
        F.col("id").alias("c1"),
        ((F.col("id") * 2654435761) % 64_000).alias("c2"),
    ).repartitionByRange(16, "c1")
    AT.init_table(spark, root, df, stats_cols=("c1", "c2"))

    _, read_c1_before, total_before = AT.snapshot_pruned(
        spark, root, "c1", 1000, 4999
    )
    pr_c2_before, read_c2_before, _ = AT.snapshot_pruned(
        spark, root, "c2", 1000, 4999
    )
    assert read_c1_before < total_before          # c1 prunes already
    assert read_c2_before == total_before         # c2 reads everything
    n_c2 = pr_c2_before.count()

    v = AT.optimize_zorder(spark, root, ["c1", "c2"], target_files=16)
    assert AT.read_manifest(root, v, resolve=False)["op"] == "optimize-zorder"

    pr_c1, read_c1_after, total_after = AT.snapshot_pruned(
        spark, root, "c1", 1000, 4999
    )
    pr_c2, read_c2_after, _ = AT.snapshot_pruned(
        spark, root, "c2", 1000, 4999
    )
    # content identical (layout-only rewrite)
    assert AT.snapshot(spark, root).count() == 64_000
    assert pr_c2.count() == n_c2
    assert sorted(r["c1"] for r in pr_c1.collect()) == list(range(1000, 5000))
    # both dimensions now prune: the 1/16th-domain probe on c2 must
    # read a strict subset of files (z-order gives ~sqrt locality)
    assert read_c2_after < total_after, (read_c2_after, total_after)
    # and c1 pruning survives the re-clustering
    assert read_c1_after < total_after, (read_c1_after, total_after)


def test_ingest_dedup_is_exactly_once(spark):
    """snk_ingest_dedup: replaying the SAME batch must (a) classify
    identically, (b) advance the fingerprint index exactly once — the
    second run's append_idempotent sees its op tag already committed
    and skips (the foreachBatch replay contract applied to the
    ingest-dedup composite). Also pins the classification contract:
    the planted clone tiers land in their classes."""
    import os

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.queries.sources import _tmp, snk_ingest_dedup

    from .conftest import SF_TEST

    root = _tmp(
        f"acid_ingest_{os.path.basename(os.path.abspath(SF_TEST))}"
    )
    import shutil

    shutil.rmtree(root, ignore_errors=True)  # force a fresh fixture

    first = sorted(map(tuple, snk_ingest_dedup(spark, SF_TEST).collect()))
    v_after_first = AT.current_version(root)
    assert v_after_first == 1  # init + exactly one ingest commit

    second = sorted(map(tuple, snk_ingest_dedup(spark, SF_TEST).collect()))
    assert second == first
    assert AT.current_version(root) == 1  # replay did NOT re-commit

    actions = {}
    for _, _, a in first:
        actions[a] = actions.get(a, 0) + 1
    # +100000 clones of corpus docs -> dup_corpus; the +200000 clone
    # of a batch doc -> dup_batch; fresh %10 docs -> insert
    assert actions.get("dup_corpus", 0) > 0
    assert actions.get("dup_batch", 0) > 0
    assert actions.get("insert", 0) > 0
    # and the index grew by exactly the insert count
    n_idx = AT.snapshot(spark, root).count()
    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators.text import fingerprint

    n_corpus = (
        table(spark, SF_TEST, "documents")
        .filter("doc_id % 10 != 0")
        .select(fingerprint("text"))
        .distinct()
        .count()
    )
    assert n_idx == n_corpus + actions["insert"]


def test_acid_stats_mixed_width_probes_never_falsely_prune(spark, tmp_path):
    """r7 ADVICE regressions in _probe_coerce: (a) a datetime.date
    probe against a TIMESTAMP column's stats (and a datetime probe
    against a DATE column's) must compare in the datetime domain —
    string order over mixed 10-char/19-char ISO encodings falsely
    pruned a file whose stored min '...T00:00:00' carries the exact
    midnight rows the filter admits; (b) an int/float probe against a
    DECIMAL column's stats must prune numerically, not raise TypeError
    on str-vs-number comparison."""
    import datetime
    import decimal

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, ts timestamp, d date, dec decimal(10,2)"
    ).coalesce(1)
    jan = mk([
        (i,
         datetime.datetime(2024, 1, 31, 0, 0) if i == 0
         else datetime.datetime(2024, 1, 31, 6, i),
         datetime.date(2024, 1, 28 + i),
         decimal.Decimal(f"{9 + i}.50"))
        for i in range(3)
    ])
    mar = mk([
        (200 + i, datetime.datetime(2024, 3, 10 + i),
         datetime.date(2024, 3, 10 + i),
         decimal.Decimal(f"{100 + i}.50"))
        for i in range(3)
    ])
    AT.init_table(spark, root, jan, stats_cols=("ts", "d", "dec"))
    AT.append(spark, root, mar, stats_cols=("ts", "d", "dec"))

    # (a1) DATE probe on the TIMESTAMP column, hi == the jan file's
    # min date: '2024-01-31T00:00:00' > '2024-01-31' as strings, so
    # the buggy compare skipped jan entirely and lost the midnight row
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "ts",
        datetime.date(2024, 1, 1), datetime.date(2024, 1, 31),
    )
    assert n_total == 2 and n_read == 1, (n_read, n_total)
    assert [r["id"] for r in pruned.collect()] == [0]

    # (a2) TIMESTAMP probe on the DATE column: stored max '2024-01-30'
    # vs lo '2024-01-30T00:00:00' failed the >= check as strings
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "d",
        datetime.datetime(2024, 1, 30, 0, 0),
        datetime.datetime(2024, 2, 15, 0, 0),
    )
    assert n_read == 1, (n_read, n_total)
    assert sorted(r["id"] for r in pruned.collect()) == [2]

    # (b) float and int probes on the DECIMAL column: must skip the
    # march file (100.50-102.50) numerically, and never TypeError
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "dec", 9.0, 11.9
    )
    assert n_read == 1, (n_read, n_total)
    assert sorted(r["id"] for r in pruned.collect()) == [0, 1, 2]
    pruned, n_read, n_total = AT.snapshot_pruned(
        spark, root, "dec", 100, 102
    )
    assert n_read == 1, (n_read, n_total)
    assert sorted(r["id"] for r in pruned.collect()) == [200, 201]


def test_acid_footer_stats_match_spark_aggregate(spark, tmp_path):
    """Per-file stats come from the parquet footers Spark wrote, and
    must encode exactly as the Spark min/max aggregate of the same
    file would: TIMESTAMP (INT64 micros), TIMESTAMP_NTZ, DATE, INT64
    and FIXED_LEN_BYTE_ARRAY decimals, UTF-8 strings and binary. An
    all-NULL file reports no stats and is never skipped; footer stats
    merge across row groups, skipping all-NULL ones."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    cols = ("ts", "tn", "d", "dec", "big", "s", "b")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "id long, ts timestamp, tn timestamp_ntz, d date, "
        "dec decimal(10,2), big decimal(38,6), s string, b binary",
    ).coalesce(1)
    D = decimal.Decimal
    jan = mk([
        (0, datetime.datetime(2024, 1, 10, 5, 6, 7, 123),
         datetime.datetime(2024, 1, 3, 0, 0, 0, 1), datetime.date(2024, 1, 3),
         D("-1.25"), D("-123.456789"), "abc", bytearray(b"\x00\xff")),
        (1, datetime.datetime(2024, 1, 20), datetime.datetime(2024, 1, 9),
         datetime.date(2024, 1, 9), D("9.50"), D("0.000001"), "h\u00e9llo",
         bytearray(b"\x01")),
    ])
    mar = mk([
        (2, datetime.datetime(2024, 3, 10), datetime.datetime(2024, 3, 1),
         datetime.date(2024, 3, 1), D("100.00"),
         D("99999999999999999999999999999999.123456"), "zebra",
         bytearray(b"\xf0\x00")),
        (3, datetime.datetime(2024, 3, 11, 23, 59, 59, 999999),
         datetime.datetime(2024, 3, 2), datetime.date(2024, 3, 2),
         D("12345678.99"), D("5.5"), "zz", bytearray(b"\xff")),
    ])
    nulls = mk([(4, None, None, None, None, None, None, None)])
    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, jan, stats_cols=cols)
    AT.append(spark, root, mar)
    AT.append(spark, root, nulls)

    files, stats, _, _ = AT._resolve(root, AT.current_version(root))
    want = {}
    for r in (
        AT.snapshot(spark, root)
        .groupBy(F.input_file_name().alias("f"))
        .agg(*[g(c).alias(f"{g.__name__}_{c}") for c in cols
               for g in (F.min, F.max)])
        .collect()
    ):
        (f,) = AT._manifest_form([r["f"]], files)
        want[f] = {
            c: [AT._stat_encode(r[f"min_{c}"]), AT._stat_encode(r[f"max_{c}"])]
            for c in cols
            if r[f"min_{c}"] is not None
        }
    assert len(want) == 3
    for f in files:
        assert stats.get(f, {}) == want[f], f
    assert sum(1 for f in files if not stats.get(f)) == 1  # the NULL file

    # each column's January range reads January and the NULL file only
    first = jan.agg(*[g(c).alias(f"{g.__name__}_{c}") for c in cols
                      for g in (F.min, F.max)]).first()
    for c in cols:
        pruned, n_read, n_total = AT.snapshot_pruned(
            spark, root, c, first[f"min_{c}"], first[f"max_{c}"]
        )
        assert (n_read, n_total) == (2, 3), c
        assert sorted(r["id"] for r in pruned.collect()) == [0, 1], c

    # row groups merge; an all-NULL row group contributes nothing
    p = str(tmp_path / "groups.parquet")
    pq.write_table(
        pa.table({"x": pa.array([5, 3, None, None, 9, 7], pa.int64()),
                  "s": ["m", "c", None, None, "z", "q"]}),
        p, row_group_size=2,
    )
    assert pq.read_metadata(p).num_row_groups == 3
    assert AT._footer_stats(p, ("x", "s")) == {"x": [3, 9], "s": ["c", "z"]}


def test_acid_stats_survive_vacuum(spark, tmp_path):
    """vacuum(keep_versions=1) unlinks the manifests that carried the
    base files' stats; the cutoff checkpoint must carry the merged
    stats, or snapshot_pruned reads every file of a vacuumed table.
    A commit based on a vacuumed version is a lost race."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(0, 8000).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    ).repartitionByRange(8, "id")
    AT.init_table(spark, root, df, stats_cols=("id",))
    for lo in (8000, 9000):
        AT.append(spark, root, spark.range(lo, lo + 1000).select(
            F.col("id"), F.lit(1).cast("long").alias("grp")).coalesce(1))
    _, n_read, n_total = AT.snapshot_pruned(spark, root, "id", 2000, 2999)
    assert n_read < n_total

    AT.vacuum(root, keep_versions=1)
    assert not os.path.exists(AT._manifest_path(root, 0))
    pruned, n_read2, n_total2 = AT.snapshot_pruned(
        spark, root, "id", 2000, 2999
    )
    assert (n_read2, n_total2) == (n_read, n_total)
    assert pruned.count() == 1000
    # a writer that read the head before the vacuum reads the table's
    # stats_cols from a manifest vacuum dropped: that is a lost race,
    # which append retries, not a FileNotFoundError
    with pytest.raises(AT.ConcurrentCommitError):
        AT._commit(root, 2, "late-writer")


def test_acid_pruning_survives_merge_delete_optimize(spark, tmp_path):
    """Every writer records footer stats for the table's stats_cols:
    after merge_upsert, delete_where and optimize, every live file has
    stats and snapshot_pruned still skips files, returning exactly the
    rows of the full-scan filter."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    df = spark.range(0, 8000).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    ).repartitionByRange(8, "id")
    AT.init_table(spark, root, df, stats_cols=("id",))

    def check(lo, hi):
        v = AT.current_version(root)
        files, stats, _, _ = AT._resolve(root, v)
        assert all("id" in stats.get(f, {}) for f in files)
        pruned, n_read, n_total = AT.snapshot_pruned(spark, root, "id", lo, hi)
        assert n_read < n_total, (AT._read_raw(root, v)["op"], n_read)
        full = AT.snapshot(spark, root).filter(F.col("id").between(lo, hi))
        assert sorted(pruned.collect()) == sorted(full.collect())

    AT.merge_upsert(spark, root, spark.range(100, 200).select(
        F.col("id"), F.lit(7).cast("long").alias("grp")), ["id"])
    check(100, 199)
    AT.delete_where(spark, root, F.col("id").between(3000, 3099))
    check(2900, 3199)
    AT.optimize(spark, root, target_files=4)
    check(5000, 5999)


def test_acid_append_stats_cols_is_a_table_property(spark, tmp_path):
    """stats_cols belongs to the table: an append that names the
    table's own columns (or a subset) records the same stats as one
    that names none, and naming a column the table does not index
    raises ValueError before anything is written. The footer stats
    start no Spark job: an append to an indexed table starts no more
    jobs than an append to a plain one (counted by job group)."""
    import uuid

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    def batch(lo):
        return spark.range(lo, lo + 500).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1)

    indexed, plain = str(tmp_path / "indexed"), str(tmp_path / "plain")
    AT.init_table(spark, indexed, batch(0), stats_cols=("id", "v"))
    AT.init_table(spark, plain, batch(0))

    sc = spark.sparkContext

    def jobs(root, **kw):
        group = f"append-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "append")
        try:
            AT.append(spark, root, batch(1000), **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_plain = jobs(plain)
    assert n_plain >= 1
    assert jobs(indexed, stats_cols=("id",)) <= n_plain
    assert jobs(indexed) <= n_plain

    v = AT.current_version(indexed)
    a = AT._read_raw(indexed, v - 1)
    b = AT._read_raw(indexed, v)
    assert a["stats_cols"] == b["stats_cols"] == ["id", "v"]
    assert a["stats"][a["add"][0]] == b["stats"][b["add"][0]] == {
        "id": [1000, 1499], "v": [2000, 2998]
    }
    with pytest.raises(ValueError, match="grp"):
        AT.append(spark, indexed, batch(0), stats_cols=("id", "grp"))
    assert AT.current_version(indexed) == v
    with pytest.raises(ValueError, match="grp"):
        AT.init_table(
            spark, str(tmp_path / "bad"), batch(0), stats_cols=("grp",)
        )


def test_acid_vacuum_via_symlinked_root_reclaims_dead_files(spark, tmp_path):
    """r7 ADVICE regression: vacuum's containment guard must resolve
    symlinks (realpath, not abspath) on both sides — a table vacuumed
    through a symlinked root otherwise judges its OWN dead files as
    foreign and leaks them on disk forever."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    real = str(tmp_path / "real_tbl")
    link = str(tmp_path / "link_tbl")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, real, df)
    AT.delete_where(spark, real, F.col("id") < 300)
    AT.optimize(spark, real, target_files=1)
    os.symlink(real, link)

    dead_before = {
        os.path.join(p, f)
        for p, _, fs in os.walk(os.path.join(real, "data"))
        for f in fs
        if f.endswith(".parquet")
    } - set(AT.read_manifest(real)["files"])
    assert dead_before, "setup must leave dead files to reclaim"

    removed = AT.vacuum(link, keep_versions=1)
    assert removed >= len(dead_before), (removed, len(dead_before))
    for f in dead_before:
        assert not os.path.exists(f), f"leaked dead file {f}"
    assert AT.snapshot(spark, real).count() == 100


def test_boosters_fused_reject_fuse_below_one(spark):
    """r7 ADVICE regression: fuse=0 made the fused group empty and
    crashed with IndexError on bests[0]; both fused boosters must
    raise a clear ValueError at entry instead."""
    from bitcoin_olap_spark.ml import ensemble as E

    cells = spark.createDataFrame(
        [(0, 0, 0, 1, 5)], "f1 long, f2 long, f3 long, y long, cnt long"
    )
    from decimal import Decimal as _D

    gcells = spark.createDataFrame(
        [(0, 0, 2, 10, _D(60))],
        "f1 long, f2 long, n long, sy long, syy decimal(38,0)",
    )
    with pytest.raises(ValueError, match="fuse"):
        E.adaboost_cells_fused(spark, cells, {1: 2, 2: 2, 3: 2}, 2, fuse=0)
    with pytest.raises(ValueError, match="fuse"):
        E.gbt_cells_fused(spark, gcells, {1: 2, 2: 2}, 2, fuse=-1)


@SETTINGS
@given(
    n_words=st.integers(min_value=1, max_value=60),
    edit_pos=st.integers(min_value=0, max_value=59),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_cdc_chunks_resync_after_edit(spark, n_words, edit_pos, seed):
    """Content-defined chunking must RESYNCHRONIZE after an edit: when
    one word is inserted into a document, every chunk that does not
    contain the insertion point survives verbatim — at most the single
    edited chunk differs between the two chunkings (the property fixed
    windows lack: a 1-word insert shifts every downstream fixed chunk).
    Also: chunks reassemble to the document exactly, in idx order."""
    import random

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.chunking import cdc_chunks

    rng = random.Random(seed)
    vocab = [f"w{rng.randrange(200)}" for _ in range(n_words)]
    base = " ".join(vocab)
    pos = min(edit_pos, n_words)
    edited = " ".join(vocab[:pos] + ["INSERTED"] + vocab[pos:])

    df = spark.createDataFrame(
        [(0, base), (1, edited)], "doc_id long, text string"
    )
    rows = (
        cdc_chunks(df, "doc_id", "text", modulus=4)
        .sort("doc_id", "idx")
        .collect()
    )
    chunks = {0: [], 1: []}
    for r in rows:
        chunks[r["doc_id"]].append(r["chunk"])
    # lossless reassembly in idx order
    assert " ".join(chunks[0]) == base
    assert " ".join(chunks[1]) == edited
    # resync: multiset difference is at most ONE chunk per side (the
    # chunk containing the edit; an anchor INSERTED word can split it
    # into two on the edited side)
    from collections import Counter

    only_base = Counter(chunks[0]) - Counter(chunks[1])
    only_edit = Counter(chunks[1]) - Counter(chunks[0])
    assert sum(only_base.values()) <= 1, (chunks[0], chunks[1])
    assert sum(only_edit.values()) <= 2, (chunks[0], chunks[1])


@SETTINGS
@given(
    lens=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=12
    ),
    n_comp=st.integers(min_value=1, max_value=4),
)
def test_canonical_keep_election(spark, lens, n_comp):
    """Canonical-keep election invariants for ANY cluster structure:
    exactly one kept document per component; the kept document has the
    component's maximum text length, ties broken by smallest doc_id;
    kept_doc_id always names a member of the component."""
    from pyspark.sql import functions as F

    docs = [(i, "x" * ln) for i, ln in enumerate(lens)]
    comp = [(i, i % n_comp) for i in range(len(lens))]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    cdf = spark.createDataFrame(comp, "doc_id long, component long")
    scored = cdf.join(
        ddf.select("doc_id", F.length("text").cast("long").alias("n_chars")),
        "doc_id",
    )
    keeper = (
        scored.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars"),
                    (-F.col("doc_id")).alias("neg_id"),
                    F.col("doc_id").alias("kid"),
                )
            ).alias("m")
        )
        .select("component", F.col("m.kid").alias("kept_doc_id"))
    )
    out = scored.join(keeper, "component").collect()
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for c, rows in by_comp.items():
        members = {r["doc_id"] for r in rows}
        kept = {r["kept_doc_id"] for r in rows}
        assert len(kept) == 1
        k = kept.pop()
        assert k in members
        best = max(rows, key=lambda r: (r["n_chars"], -r["doc_id"]))
        assert k == best["doc_id"]


def test_cluster_split_never_straddles_near_dup_pairs(spark):
    """sample_cluster_split's structural guarantee on the real corpus:
    every near-dup pair (the same exact-Jaccard pair relation the
    operator clusters) has BOTH endpoints in the same split — and the
    per-document hash split (sample_hash_split's assignment rule)
    DOES straddle at least one near-dup pair on the same corpus, the
    leak the cluster split exists to close."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.operators import dedup as D
    from bitcoin_olap_spark.queries.llmdata import sample_cluster_split

    sf = "/root/testdata/sf0.01"
    splits = sample_cluster_split(spark, sf).select("doc_id", "split")
    docs = table(spark, sf, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b")
    n_pairs = joined.count()
    assert n_pairs > 0, "corpus must contain near-dup pairs"
    straddling = joined.filter(
        F.col("split_a") != F.col("split_b")
    ).count()
    assert straddling == 0, f"{straddling} of {n_pairs} pairs leak"

    # witness: the DOC-level hash rule straddles on this corpus
    doc_h2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    doc_split = F.when(doc_h2 < "1a", "eval").otherwise("train")
    da = docs.select(
        F.col("doc_id").alias("doc_a"), doc_split.alias("split_a")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), doc_split.alias("split_b")
    )
    doc_straddling = (
        pairs.join(da, "doc_a").join(db, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert doc_straddling > 0, "doc-level split did not leak here"


def test_table_changes_reconstructs_and_scans_only_changed_files(
    spark, tmp_path
):
    """operators/acidtable.table_changes (the CDF read) contract:
    (a) classification is exact per change kind and unchanged keys
    never emit; (b) applying the diff to the older snapshot
    reconstructs the newer one (delete the 'delete' keys, upsert the
    new values of the rest); (c) the diff plan reads ONLY the
    manifest-level file difference — a file carried between the two
    versions never enters the scan, which is the whole scale
    property."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    base = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, root, base)
    AT.delete_where(spark, root, F.col("id") < 50)  # v1
    ups = spark.range(100, 140).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    )
    ins = spark.range(1000, 1020).select(
        F.col("id"), F.lit(7).cast("long").alias("v")
    )
    AT.merge_upsert(spark, root, ups.unionByName(ins), ["id"])  # v2

    diff = AT.table_changes(spark, root, ["id"], v_from=0)
    rows = {r["id"]: r for r in diff.collect()}
    assert {r for r in rows if rows[r]["change"] == "delete"} == set(
        range(0, 50)
    )
    assert {r for r in rows if rows[r]["change"] == "update"} == set(
        range(100, 140)
    )
    assert {r for r in rows if rows[r]["change"] == "insert"} == set(
        range(1000, 1020)
    )
    assert all(
        r["new_v"] == -1 and r["old_v"] == 2 * r["id"]
        for r in rows.values()
        if r["change"] == "update"
    )
    assert len(rows) == 50 + 40 + 20  # unchanged keys never emit

    # (b) v0 + diff == v2
    v0 = AT.snapshot(spark, root, version=0)
    upserts = diff.filter(F.col("change") != "delete").select(
        "id", F.col("new_v").alias("v")
    )
    applied = v0.join(diff.select("id"), "id", "left_anti").unionByName(
        upserts
    )
    v2 = AT.snapshot(spark, root)
    assert applied.exceptAll(v2).count() == 0
    assert v2.exceptAll(applied).count() == 0

    # (c) scan inventory == manifest-level file difference
    f0 = set(AT._resolve_files(root, 0))
    f2 = set(AT._resolve_files(root, AT.current_version(root)))
    expect = {os.path.realpath(p) for p in (f0 ^ f2)}
    scanned = {
        os.path.realpath(p.replace("file://", "").split("?")[0])
        for p in diff.inputFiles()
    }
    assert scanned == expect, (scanned, expect)


def test_table_changes_noop_versions_emit_nothing(spark, tmp_path):
    """Diffing a version against itself (or across commits that only
    carried files) yields an empty relation without scanning data."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(0, 10).select(F.col("id"))
    )
    diff = AT.table_changes(spark, root, ["id"], v_from=0, v_to=0)
    assert diff.count() == 0


def test_cc_shortcut_equals_plain_on_deep_chains(spark):
    """connected_components(shortcut=True) — the pointer-doubling
    variant ml_dbscan_grid uses on its deep core graph — must produce
    the identical (node, component) partition as plain propagation on
    graphs where shortcutting actually fires: long chains (diameter >>
    log rounds), a chain whose minimum sits at the FAR end (labels
    travel the whole diameter), plus isolated singletons and a star."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators.dedup import connected_components

    # chain 100..120 (min at the low end), chain 200..215 REVERSED
    # construction with min at the far end, star around 500, singleton 900
    chain1 = [(i, i + 1) for i in range(100, 120)]
    chain2 = [(i + 1, i) for i in range(200, 215)]
    star = [(500, x) for x in (501, 502, 503)]
    edges = spark.createDataFrame(
        chain1 + chain2 + star, "src long, dst long"
    )
    node_ids = sorted(
        {x for e in chain1 + chain2 + star for x in e} | {900}
    )
    nodes = spark.createDataFrame(
        [(n,) for n in node_ids], "id long"
    )
    plain = sorted(
        connected_components(edges, nodes, shortcut=False).collect()
    )
    fast = sorted(
        connected_components(edges, nodes, shortcut=True).collect()
    )
    assert plain == fast
    # and the partition is the true component-min everywhere
    comp = {r["node"]: r["component"] for r in plain}
    assert comp[119] == 100 and comp[215] == 200 and comp[503] == 500
    assert comp[900] == 900


def test_dbscan_halfprobe_pairset(spark):
    """_grid_eps_pairs (r12 half-neighborhood probe + mirror) must
    emit exactly one row per ORDERED eps-pair — the same multiset the
    9-offset probe produced and the brute-force n^2 states. Points
    exercise every blocking case: same cell, horizontal / vertical /
    both diagonal cell adjacencies, exact-eps boundary distance,
    cells touching only at a corner, negative coordinates (sign-safe
    floor division), and pairs in adjacent cells farther than eps."""
    from itertools import permutations

    from bitcoin_olap_spark.queries.analytics import _grid_eps_pairs

    eps4 = 500
    pts = [
        (1, 0, 0),        # cell (0,0)
        (2, 10, 10),      # same cell as 1, dist ~14
        (3, 510, 0),      # cell (1,0), dist 510 from 1 (> eps), 500 from 2? no
        (4, 499, 0),      # cell (0,0), dist 499 from 1 (<= eps via same cell)
        (5, 0, 500),      # cell (0,1), EXACTLY eps from 1
        (6, 520, 520),    # cell (1,1), diagonal neighbor, far from all
        (7, -10, -10),    # cell (-1,-1), dist ~14*sqrt2 from 1 (diag -1,-1)
        (8, 450, -450),   # cell (0,-1), anti-diagonal-ish from 3's cell
        (9, 5000, 5000),  # isolated
    ]
    df = spark.createDataFrame(pts, "pid long, x4 long, y4 long")
    got = sorted(
        (r["pa"], r["pb"]) for r in _grid_eps_pairs(df, eps4).collect()
    )
    want = sorted(
        (a[0], b[0])
        for a, b in permutations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= eps4 * eps4
    )
    # ordered-pair MULTISET equality (degree counts depend on
    # multiplicity, so duplicates would corrupt core election)
    assert got == want
    # sanity: the fixture really exercises matches (incl. the exact-
    # eps boundary pair and a negative-coordinate pair)
    assert (1, 5) in got and (1, 7) in got and (1, 3) not in got


def test_graph_cc_is_a_fixpoint_partition(spark):
    """graph_connected_components invariants (sf0.001): (a) both
    endpoints of every strong edge share a component, (b) every
    component's label equals the MINIMUM of its member ids, (c) every
    label is itself a member of its component — together: the labels
    are exactly the min-reachable fixpoint, independent of the oracle
    compare."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    labels = all_queries()["graph_connected_components"](spark, sf)

    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
            "l_orderkey",
        )
        .distinct()
        .groupBy("u", "v")
        .count()
        .filter(F.col("count") >= 2)
        .select("u", "v")
    )
    lu = labels.select(
        F.col("node").alias("u"), F.col("component").alias("cu")
    )
    lv = labels.select(
        F.col("node").alias("v"), F.col("component").alias("cv")
    )
    joined = edges.join(lu, "u").join(lv, "v")
    assert joined.count() == edges.count(), "edge endpoints missing"
    assert joined.filter(F.col("cu") != F.col("cv")).count() == 0

    mins = labels.groupBy("component").agg(F.min("node").alias("mn"))
    assert mins.filter(F.col("component") != F.col("mn")).count() == 0
    member = labels.join(
        labels.select(
            F.col("node").alias("component"),
            F.col("component").alias("c2"),
        ),
        "component",
    ).filter(F.col("c2") != F.col("component"))
    assert member.count() == 0, "a label is not a member of its own component"


def test_cdf_materialized_feed_reconstructs_snapshots(spark, tmp_path):
    """Write-time CDC contract (operators/acidtable cdf=True +
    sources/cdcfeed): (a) the full acid_cdf feed replayed version by
    version onto an empty state reconstructs the head snapshot
    exactly; (b) rewrite commits' change rows come from materialized
    _change_data files and append-shaped commits derive inserts from
    their own added data files — no change task ever references a
    carried file (the no-read-time-join scale property); (c) the feed
    is offset-split invariant: any partition of the version range into
    consecutive batch reads unions to the same rows, which is the
    exactly-once replay contract a checkpoint-restarted stream relies
    on."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources.cdcfeed import register_cdcfeed

    root = str(tmp_path / "tbl")
    base = spark.range(0, 400).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(4, "id")
    AT.init_table(spark, root, base)
    AT.delete_where(spark, root, F.col("id") < 50, cdf=True)  # v1
    ups = spark.range(100, 140).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    )
    ins = spark.range(1000, 1020).select(
        F.col("id"), F.lit(7).cast("long").alias("v")
    )
    AT.merge_upsert(
        spark, root, ups.unionByName(ins), ["id"], cdf=True
    )  # v2
    AT.append(
        spark,
        root,
        spark.range(2000, 2010).select(
            F.col("id"), F.lit(9).cast("long").alias("v")
        ),
    )  # v3: append-shaped, derives inserts with no materialization
    AT.optimize(spark, root, target_files=2)  # v4: layout-only, no delta

    register_cdcfeed(spark)
    feed = (
        spark.read.format("acid_cdf").option("path", root).load()
    )
    rows = feed.collect()

    # (a) replay onto empty state == head snapshot
    state: dict[int, int] = {}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        if r["_change_type"] in ("insert", "update_postimage"):
            state[r["id"]] = r["v"]
        elif r["_change_type"] == "delete":
            del state[r["id"]]
    head = {
        r["id"]: r["v"] for r in AT.snapshot(spark, root).collect()
    }
    assert state == head

    # (b) task inventory: rewrite commits read _change_data files,
    # append-shaped commits read their OWN added files, and no task
    # references a carried file
    inv = AT.change_inventory(root, -1)
    cdir = os.path.join(root, "_change_data")
    assert all(v != 4 for _, _, v in inv)  # layout-only commit: no events
    for f, ctype, v in inv:
        if v in (1, 2):
            assert ctype is None and f.startswith(cdir), (f, v)
        else:
            assert ctype == "insert" and not f.startswith(cdir), (f, v)
            assert f in AT._read_raw(root, v)["add"]

    # (c) offset-split invariance: (−1,1] ∪ (1,4] == (−1,4]
    def feed_rows(v_from, v_to):
        return (
            spark.read.format("acid_cdf")
            .option("path", root)
            .option("v_from", v_from)
            .option("v_to", v_to)
            .load()
        )

    split = feed_rows(-1, 1).unionByName(feed_rows(1, 4))
    assert split.exceptAll(feed).count() == 0
    assert feed.exceptAll(split).count() == 0


def test_cdf_requires_materialization_for_rewrite_commits(
    spark, tmp_path
):
    """A commit that removed files without cdf=True makes the CDF
    range unreadable with a descriptive error (Delta's 'change data
    not recorded' contract) — never a silent wrong feed. The
    join-based table_changes path stays available."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark,
        root,
        spark.range(0, 100).select(F.col("id")),
    )
    AT.delete_where(spark, root, F.col("id") < 10)  # cdf=False
    with _pytest.raises(AT.ChangeDataUnavailable):
        AT.change_inventory(root, 0)
    # the init commit alone is still readable
    assert all(v == 0 for _, _, v in AT.change_inventory(root, -1, 0))


def test_cdf_vacuum_drops_change_data_with_manifests(spark, tmp_path):
    """CDF history shares time travel's retention: vacuuming past a
    version removes its _change_data along with its manifest, while
    surviving versions keep theirs readable."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(0, 100).select(F.col("id"))
    )
    AT.delete_where(spark, root, F.col("id") < 10, cdf=True)  # v1
    AT.delete_where(spark, root, F.col("id") < 20, cdf=True)  # v2

    def cdirs(v):
        # _change_data dirs are per-attempt (vN-<uuid>): match by prefix
        base = os.path.join(root, "_change_data")
        if not os.path.isdir(base):
            return []
        return [d for d in os.listdir(base) if d.startswith(f"v{v}-")]

    assert cdirs(1)
    AT.vacuum(root, keep_versions=1)  # drops v0, v1
    assert not cdirs(1)
    assert cdirs(2)
    inv = AT.change_inventory(root, 1, 2)
    assert inv and all(v == 2 for _, _, v in inv)


def test_cdf_replication_mirrors_source_and_lands_exactly_once(spark):
    """stream_cdf_apply's replication contract: (a) the folded replica
    equals the source table's head snapshot EXACTLY (multiset compare,
    not just the oracle hash); (b) re-running the subscription lands
    nothing new — the changelog table's version head is stable because
    batch op tags make the landing idempotent (exactly-once across
    restarts without relying on the streaming checkpoint)."""
    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.queries.sources import (
        _diff_fixture,
        _tmp,
    )
    from bitcoin_olap_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    import os

    replica = all_queries()["stream_cdf_apply"](spark, sf)
    land = os.path.join(
        _tmp(f"cdf_apply_{os.path.basename(os.path.abspath(sf))}"),
        "changelog",
    )
    head_before = AT.current_version(land)

    src = _diff_fixture(spark, sf, cdf=True)
    source_head = AT.snapshot(spark, src)
    assert replica.exceptAll(source_head).count() == 0
    assert source_head.exceptAll(replica).count() == 0

    all_queries()["stream_cdf_apply"](spark, sf)  # re-subscribe
    assert AT.current_version(land) == head_before


def _head_dv_targets(root):
    """The head snapshot's data files that a live deletion vector
    targets: the input of the copy-on-write writers' interlock."""
    from bitcoin_olap_spark.operators import acidtable as AT

    files, _, dvs, _ = AT._resolve(root, AT.current_version(root))
    return AT._live_dv_targets(files, dvs)


def test_deletion_vectors_full_lifecycle(spark, tmp_path):
    """Merge-on-read DELETE contract (operators/acidtable
    delete_where_mor + deletion vectors): (a) a MoR delete rewrites NO
    data files — the commit's add/remove lists are empty and only
    position files land; (b) reads subtract the accumulated vectors
    (snapshot, snapshot_pruned, time travel all agree), and positions
    already vectored are never re-recorded; (c) copy-on-write
    DELETE/MERGE refuse while vectors target live files (raw rewrites
    would resurrect hidden rows) and work again after OPTIMIZE
    materializes them; (d) MoR deletes survive vacuum because the
    cutoff checkpoint carries the dv union; (e) a shallow clone
    carries the vectors (a clone that dropped them would resurrect
    rows); (f) the file-difference diff and the derived-insert CDF
    path both REFUSE dv commits (cdf=True materializes change rows
    and the feed works)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(4)
    AT.init_table(spark, root, base)
    AT.delete_where_mor(spark, root, F.col("id") < 100, cdf=True)  # v1
    AT.delete_where_mor(spark, root, F.col("id") < 150)  # v2 overlaps

    # (a) no data-file churn
    m1 = AT._read_raw(root, 1)
    assert m1.get("add", []) == [] and m1.get("remove", []) == []
    assert m1["dv"]

    # (b) reads agree; overlap not double-recorded; time travel exact
    assert AT.snapshot(spark, root).count() == 850
    assert AT.snapshot(spark, root).filter(F.col("id") < 150).count() == 0
    assert AT._dv_row_count(AT._resolve(root, 2)[2]) == 150
    assert AT.snapshot(spark, root, 1).count() == 900
    assert AT.snapshot(spark, root, 0).count() == 1000
    pruned, _, _ = AT.snapshot_pruned(spark, root, "id", 0, 200)
    assert pruned.count() == 51  # 150..200 inclusive

    # (f) diff/CDF refusal + cdf=True feed works
    assert AT.change_inventory(root, 0, 1)  # v1 materialized changes
    with _pytest.raises(AT.ChangeDataUnavailable):
        AT.change_inventory(root, 1, 2)  # v2 was cdf=False
    with _pytest.raises(AT.ChangeDataUnavailable):
        AT.table_changes(spark, root, ["id"], 0)

    # (c) CoW interlock
    with _pytest.raises(AT.DeletionVectorsPending):
        AT.delete_where(spark, root, F.col("id") < 500)
    with _pytest.raises(AT.DeletionVectorsPending):
        AT.merge_upsert(
            spark,
            root,
            spark.range(1, 2).select(
                F.col("id"), F.lit(0).cast("long").alias("v")
            ),
            ["id"],
        )
    AT.optimize(spark, root, target_files=2)  # v3 materializes
    assert AT.snapshot(spark, root).count() == 850
    assert not _head_dv_targets(root)
    AT.delete_where(spark, root, F.col("id") < 200)  # CoW works again
    assert AT.snapshot(spark, root).count() == 800

    # (d) vacuum durability and (e) clone
    AT.delete_where_mor(spark, root, F.col("id") >= 990)
    assert AT.snapshot(spark, root).count() == 790
    AT.vacuum(root, keep_versions=1)
    assert AT.snapshot(spark, root).count() == 790
    dest = str(tmp_path / "clone")
    AT.clone(root, dest)
    assert AT.snapshot(spark, dest).count() == 790


def test_mor_merge_equals_cow_merge_and_rewrites_nothing(spark, tmp_path):
    """merge_upsert_mor contract: (a) final content is IDENTICAL to
    the copy-on-write merge_upsert of the same batch (multiset
    compare); (b) the commit removes NO files — only the matched
    positions' vectors plus the appended update files; (c) the
    matched/unmatched split is evaluated through LIVE vectors: a key
    MoR-deleted earlier is unmatched and comes back as an insert;
    (d) cdf=True emits the same pre/post/insert vocabulary as the CoW
    path so the feed replays the merge."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    def build(root, mor: bool):
        base = spark.range(0, 400).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).repartition(4)
        AT.init_table(spark, root, base)
        ups = spark.range(50, 150).select(
            F.col("id"), F.lit(-1).cast("long").alias("v")
        )
        if mor:
            AT.delete_where_mor(spark, root, F.col("id") < 100)
            AT.merge_upsert_mor(spark, root, ups, ["id"], cdf=True)
        else:
            AT.delete_where(spark, root, F.col("id") < 100)
            AT.merge_upsert(spark, root, ups, ["id"])

    r_mor = str(tmp_path / "mor")
    r_cow = str(tmp_path / "cow")
    build(r_mor, True)
    build(r_cow, False)
    a = AT.snapshot(spark, r_mor)
    b = AT.snapshot(spark, r_cow)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    m = AT._read_raw(r_mor, 2)
    assert m.get("remove", []) == [] and m["dv"] and m["add"]

    # (c) keys 50..99 were MoR-deleted then merged -> present with -1
    got = {r["id"]: r["v"] for r in a.collect()}
    assert all(got[i] == -1 for i in range(50, 150))
    assert all(i not in got for i in range(0, 50))

    # (d) the merge commit's change rows: deleted keys return as
    # inserts, live keys as update pre/post pairs
    import pyarrow.parquet as pq

    rows = []
    for f, ctype, v in AT.change_inventory(r_mor, 1, 2):
        assert ctype is None
        t = pq.read_table(f)
        rows += t.to_pylist()
    by_type: dict[str, set] = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    assert by_type["insert"] == set(range(50, 100))
    assert by_type["update_preimage"] == set(range(100, 150))
    assert by_type["update_postimage"] == set(range(100, 150))


def test_restore_rewinds_deletion_vectors(spark, tmp_path):
    """RESTORE must rewind the deletion-vector set with the file set:
    restoring to a pre-delete version shows the MoR-deleted rows
    again, restoring forward re-hides them, and a restore that
    rewound vectors refuses the file-difference diff (rows changed
    with no file evidence). After OPTIMIZE the resolved vector set is
    EMPTY (dv_reset), so readers skip the anti-join branch outright;
    a DV-free table's restore records no reset and stays diffable."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark,
        root,
        spark.range(0, 1000).select(F.col("id")).repartition(4),
    )
    AT.delete_where_mor(spark, root, F.col("id") < 100)  # v1
    assert AT.snapshot(spark, root).count() == 900
    AT.restore(spark, root, 0)  # v2: rows must come BACK
    assert AT.snapshot(spark, root).count() == 1000
    with _pytest.raises(AT.ChangeDataUnavailable):
        AT.table_changes(spark, root, ["id"], 1, 2)
    AT.restore(spark, root, 1)  # v3: re-hidden
    assert AT.snapshot(spark, root).count() == 900
    AT.optimize(spark, root, target_files=2)  # v4
    assert AT._resolve(root, 4)[2] == []
    assert AT.snapshot(spark, root).count() == 900

    # DV-free table: restore stays diffable (no dv_reset recorded)
    clean = str(tmp_path / "clean")
    AT.init_table(
        spark, clean, spark.range(0, 10).select(F.col("id"))
    )
    AT.append(spark, clean, spark.range(10, 20).select(F.col("id")))
    AT.restore(spark, clean, 0)
    assert "dv_reset" not in AT._read_raw(clean, 2)
    diff = AT.table_changes(spark, clean, ["id"], 1, 2)
    assert {r["id"] for r in diff.collect()} == set(range(10, 20))


def test_cdf_stream_checkpoint_restart_resumes_from_offset(
    spark, tmp_path
):
    """The streaming CDF source's exactly-once offset contract under a
    REAL restart: run one availableNow pass against a 2-commit table
    (offsets land in the checkpoint), commit two more versions, then
    restart with the SAME checkpoint — the resumed stream must emit
    ONLY the new versions' rows, and first-run + second-run rows
    together must equal the full feed."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources.cdcfeed import register_cdcfeed

    root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    register_cdcfeed(spark)
    AT.init_table(
        spark,
        root,
        spark.range(0, 200).select(F.col("id")).repartition(2),
    )
    AT.delete_where_mor(spark, root, F.col("id") < 50, cdf=True)  # v1

    def run_pass():
        # parquet sink: the memory sink refuses checkpoint recovery,
        # and a restartable sink is the point of this test
        (
            spark.readStream.format("acid_cdf")
            .option("path", root)
            .option("startingVersion", 0)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(out).collect()

    first = run_pass()
    assert {r["_commit_version"] for r in first} == {0, 1}

    AT.append(
        spark, root, spark.range(300, 320).select(F.col("id"))
    )  # v2
    AT.delete_where_mor(spark, root, F.col("id") >= 150, cdf=True)  # v3

    both = run_pass()  # resumed from the checkpointed offset
    key = lambda r: (r["id"], r["_change_type"], r["_commit_version"])
    second = sorted(map(key, both))
    for k in map(key, first):
        second.remove(k)
    assert {v for _, _, v in second} == {2, 3}, second[:3]

    # first + second == the full feed read fresh
    full = (
        spark.read.format("acid_cdf").option("path", root).load()
    ).collect()
    assert sorted(map(key, both)) == sorted(map(key, full))


def test_acid_change_dv_dirs_are_per_attempt(spark, tmp_path):
    """ADVICE r8 regression (acidtable _write_change_files /
    _write_dv_files): two commit attempts racing to the SAME version
    number must write change/DV files into DISJOINT dirs — a fixed
    _change_data/vN dir let the loser's rmtree-and-rewrite destroy
    files the eventual winner's committed manifest references, so a
    committed version's CDF/DV reads failed. Per-attempt uuid dirs
    (the _write_data_files pattern) make attempts collision-free."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 10).select("id"))
    change = spark.range(0, 3).select(
        "id", F.lit("delete").alias("_change_type")
    )
    dv = spark.range(0, 3).select(
        F.lit("f").alias("_dv_file"), F.col("id").alias("_dv_pos")
    )
    # both "attempts" target version 1 (> head) — the old code rmtree'd
    # the first attempt's dir here
    a_cdc = AT._write_change_files(change, root, 1)
    a_dv = AT._write_dv_files(dv, root, 1)
    b_cdc = AT._write_change_files(change, root, 1)
    b_dv = AT._write_dv_files(dv, root, 1)
    import os

    for f in a_cdc + a_dv + b_cdc + b_dv:
        assert os.path.exists(f), f"attempt clobbered {f}"
    assert {os.path.dirname(p) for p in a_cdc}.isdisjoint(
        {os.path.dirname(p) for p in b_cdc}
    )
    assert {os.path.dirname(p) for p in a_dv}.isdisjoint(
        {os.path.dirname(p) for p in b_dv}
    )
    # winner commits attempt A's files: the feed over them still reads
    AT._commit(root, 1, "delete", add=[], cdc=a_cdc, dv=a_dv)
    inv = AT.change_inventory(root, 0)
    assert [p for p, _, _ in inv] == sorted(a_cdc)
    assert AT._resolve(root, 1)[2] == sorted(a_dv)


def test_acid_cdf_schema_includes_evolved_columns(spark, tmp_path):
    """ADVICE r8 regression (the feed schema): the feed's columns must
    be every column of the head snapshot, not those of files[0] —
    after an append added a column, path order can put a pre-evolution
    narrow file first and the evolved columns silently vanished from
    the entire CDF feed. Pre-evolution change rows surface the new
    column as NULL (the same widening snapshot reads do)."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources.cdcfeed import register_cdcfeed

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(0, 8).select("id", F.lit(1).alias("v"))
    )
    AT.append(
        spark,
        root,
        spark.range(100, 104).select(
            "id", F.lit(2).alias("v"), F.lit("x").alias("extra")
        ),
    )
    register_cdcfeed(spark)
    feed = spark.read.format("acid_cdf").option("path", root).load()
    assert "extra" in feed.columns, feed.columns
    rows = feed.collect()
    # v0 inserts (pre-evolution) widen with NULL extra; v1 inserts carry it
    assert {r["extra"] for r in rows if r["_commit_version"] == 0} == {None}
    assert {r["extra"] for r in rows if r["_commit_version"] == 1} == {"x"}


def test_acid_mor_interlock_fires_with_relative_root(spark, tmp_path):
    """ADVICE r8 regression (acidtable._live_dv_targets): with the
    table opened via a RELATIVE root, manifests store relative paths
    while _metadata.file_path is always an absolute URI — the
    unnormalized intersection was always empty, the
    DeletionVectorsPending interlock never fired, and a CoW
    delete_where silently resurrected MoR-deleted rows. Both sides now
    realpath-normalize."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    rel_root = os.path.relpath(str(tmp_path / "tbl"))
    AT.init_table(spark, rel_root, spark.range(0, 20).select("id"))
    AT.delete_where_mor(spark, rel_root, F.col("id") < 5)
    assert _head_dv_targets(rel_root), "interlock input empty"
    with pytest.raises(AT.DeletionVectorsPending):
        AT.delete_where(spark, rel_root, F.col("id") >= 15)
    # after optimize materializes the vectors, CoW proceeds
    AT.optimize(spark, rel_root, target_files=2)
    AT.delete_where(spark, rel_root, F.col("id") >= 15)
    assert AT.snapshot(spark, rel_root).count() == 10


def test_acid_stale_dv_target_is_inert_not_invalid(spark, tmp_path):
    """ADVICE r10 regression (acidtable._live_dv_targets): a live
    deletion vector targeting a SINCE-REMOVED data file is inert on
    the read path (the anti-join never matches), so the
    DeletionVectorsPending interlock must mirror that — intersect,
    not raise. Before the fix, _live_dv_targets fed DV targets
    through the strict (raising) _manifest_form, so any manifest
    state pairing a live vector with a removed target hard-failed
    every CoW delete/merge. The state is synthesized by committing a
    rewrite delta that removes the vector's target WITHOUT a
    dv_reset — legal under the add-only vector contract."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(
        spark, root, spark.range(0, 100).select("id").coalesce(1)
    )
    AT.delete_where_mor(spark, root, F.col("id") < 10)  # v1: live DV
    targets = _head_dv_targets(root)
    assert targets, "DV must target the v0 file"
    # synthesize a rewrite commit: replacement file with the SAME live
    # rows the vector's math would produce, old file removed, vector
    # deliberately NOT reset
    newdir = os.path.join(AT._data_dir(root), "rewrite0")
    spark.range(10, 100).coalesce(1).write.parquet(newdir)
    (newfile,) = glob.glob(os.path.join(newdir, "*.parquet"))
    AT._commit(root, 2, "rewrite", add=[newfile], remove=sorted(targets))
    # the stale vector maps to no live file: interlock input is empty
    assert _head_dv_targets(root) == set()
    # reads stay correct and CoW delete proceeds instead of raising
    assert AT.snapshot(spark, root).count() == 90
    AT.delete_where(spark, root, F.col("id") >= 95)
    assert AT.snapshot(spark, root).count() == 85


def test_acid_kill9_mid_commit_recovery(spark, tmp_path):
    """VERDICT r10 ask #3: a writer killed with SIGKILL mid-commit —
    AFTER its rewrite data files hit disk, BEFORE its manifest link
    (the commit point) — must leave the table fully healthy:

    * the next reader sees the pre-crash version (partial work
      invisible — atomicity comes from os.link being the only
      publish);
    * the next writer commits cleanly at the version the victim was
      attempting (no half-claimed version numbers);
    * vacuum reclaims the victim's orphaned data files and its
      unlinked `.tmp-*` manifest temp under the retention gate
      (orphan_retention_s=0 here; the 7-day default is what protects
      IN-FLIGHT healthy writers from a concurrent vacuum).

    Fault injection: the child process wraps os.link to SIGKILL
    itself when the destination is a version manifest — the exact
    instant between durable data and durable commit. Exercised for
    both delete_where (CoW rewrite) and optimize (layout rewrite)."""
    import glob
    import json as _json
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "crash_tbl")
    AT.init_table(
        spark, root,
        spark.range(0, 100).select(
            "id", (F.col("id") * 10).alias("val")
        ).coalesce(4),
    )
    AT.delete_where(spark, root, F.col("id") < 5)  # v1: real history
    assert AT.current_version(root) == 1

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    victim = f"""
import os, re, signal, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from bitcoin_olap_spark.operators import acidtable as AT
spark = (SparkSession.builder.master("local[2]")
         .appName("acid-victim").config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
real_link = os.link
def killing_link(src, dst, *a, **k):
    if re.search(r"[0-9]{{8}}\\.json$", dst):
        os.kill(os.getpid(), signal.SIGKILL)  # die AT the commit point
    return real_link(src, dst, *a, **k)
os.link = killing_link
root = {root!r}
OP
"""
    data_before = set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    for op in (
        'AT.delete_where(spark, root, F.col("id") < 10)',
        "AT.optimize(spark, root, target_files=1)",
    ):
        p = subprocess.run(
            [sys.executable, "-c", victim.replace("OP", op)],
            capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == -9, (
            f"victim must die by SIGKILL mid-commit, got "
            f"{p.returncode}:\n{p.stderr[-2000:]}"
        )
        # reader: pre-crash snapshot intact, partial work invisible
        assert AT.current_version(root) == 1
        assert AT.snapshot(spark, root).count() == 95
    # the crashes left real debris: orphaned rewrite files + tmp
    # manifests that never reached their finally-unlink
    orphans = (
        set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
        - data_before
    )
    assert orphans, "victims must have written data files pre-commit"
    tmps = glob.glob(os.path.join(root, "_log", ".tmp-*"))
    assert tmps, "a SIGKILLed commit leaves its manifest temp behind"
    # next writer commits cleanly at the version the victims attempted
    v = AT.delete_where(spark, root, F.col("id") >= 90)
    assert v == 2
    assert AT.snapshot(spark, root).count() == 85
    # vacuum under a zero retention gate reclaims every orphan; live
    # files survive and the table still reads
    AT.vacuum(root, keep_versions=1, orphan_retention_s=0)
    left = set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
    assert not (left & orphans), f"orphans survived vacuum: {left & orphans}"
    assert not glob.glob(os.path.join(root, "_log", ".tmp-*"))
    assert AT.snapshot(spark, root).count() == 85
    live = {
        os.path.realpath(f) for f in AT.read_manifest(root)["files"]
    }
    assert {os.path.realpath(f) for f in left} == live
    # manifest JSON chain is still walkable end to end
    for ver in range(AT._earliest_version(root), v + 1):
        with open(AT._manifest_path(root, ver)) as f:
            _json.load(f)


def test_acid_vacuum_reclaims_unreferenced_dv_and_change_files(
    spark, tmp_path
):
    """ADVICE r8 regression (acidtable.vacuum): _deletes files made
    unreferenced by a dv_reset (optimize) and orphaned per-attempt
    dirs from lost commit races must be reclaimed by vacuum (the same
    dropped-minus-live pattern as data files) — otherwise delete-heavy
    MoR tables grow without bound. Dirs targeting versions NEWER than
    the scanned head (a possible in-flight racer) must survive."""
    import os

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 100).select("id"))
    AT.delete_where_mor(spark, root, F.col("id") < 10, cdf=True)  # v1
    old_dvs = AT._resolve(root, 1)[2]
    assert old_dvs
    AT.optimize(spark, root, target_files=2)  # v2: dv_reset
    # orphan from a lost race at an old version number
    orphan = AT._write_dv_files(
        spark.range(0, 1).select(
            F.lit("f").alias("_dv_file"), F.col("id").alias("_dv_pos")
        ),
        root,
        2,
    )
    # in-flight attempt targeting a FUTURE version: must survive vacuum
    inflight = AT._write_dv_files(
        spark.range(0, 1).select(
            F.lit("f").alias("_dv_file"), F.col("id").alias("_dv_pos")
        ),
        root,
        99,
    )
    AT.vacuum(root, keep_versions=1)
    for f in old_dvs + orphan:
        assert not os.path.exists(f), f"unreclaimed {f}"
    for f in inflight:
        assert os.path.exists(f), "in-flight racer's files reclaimed"
    # dropped v1's change data goes with its manifest
    cdir = os.path.join(root, "_change_data")
    assert not os.path.isdir(cdir) or not os.listdir(cdir)
    assert AT.snapshot(spark, root).count() == 90


def test_acid_vacuum_keeps_dvs_referenced_by_surviving_versions(
    spark, tmp_path
):
    """Companion guard for the vacuum DV sweep: a DV file referenced by
    ANY surviving version (keep_versions > 1 time travel window) must
    survive vacuum even though the head has dv_reset past it."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 50).select("id"))
    AT.delete_where_mor(spark, root, F.col("id") < 5)  # v1
    dvs = AT._resolve(root, 1)[2]
    AT.optimize(spark, root, target_files=1)  # v2: dv_reset
    AT.vacuum(root, keep_versions=2)  # v1 survives -> its DVs must too
    import os

    for f in dvs:
        assert os.path.exists(f), f"DV of surviving version v1 gone: {f}"
    assert AT.snapshot(spark, root, version=1).count() == 45


def test_k_core_converged_equals_unrolled_fixpoint(spark):
    """graph_k_core_converged (the production convergence-sum loop)
    must reach exactly the relation the registered 4-round unroll
    computes on the fixture — peeling is order-insensitive and only
    removes edges, so an unchanged edge count IS the fixpoint, and the
    fixture converges within the unroll."""
    from bitcoin_olap_spark.registry import all_queries

    q = all_queries()
    sf = "/root/testdata/sf0.01"
    a = q["graph_k_core"](spark, sf)
    b = q["graph_k_core_converged"](spark, sf)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_bpe_batched_equals_sequential(spark):
    """r10 production BPE: batched snapshot-merge acceptance (one
    pair-count collect accepts up to `batch` merges, gated by the
    disjointness + new-pair count-bound guard) must produce the
    IDENTICAL merge table — same pairs, same order, same counts — as
    one-merge-per-collect sequential training. The guard is what makes
    batching an optimization instead of an approximation; this is the
    regression line for it (VERDICT r9 ask #1)."""
    from bitcoin_olap_spark.queries.llmdata import _bpe_fit

    sf = "/root/testdata/sf0.01"
    _, _, seq = _bpe_fit(spark, sf, rounds=24, batch=1)
    for batch in (4, 16):
        _, _, bat = _bpe_fit(spark, sf, rounds=24, batch=batch)
        assert bat == seq, f"batch={batch} diverged from sequential"


def test_bpe_batched_equals_sequential_on_merge_chains(spark, tmp_path):
    """ADVICE r10 composition case: the batched-acceptance growth
    bound must stay sound when ACCEPTED MERGES CHAIN — a pair whose
    left token comes from one accepted merge and right token from
    another ('a b c d' accepting both (a,b) and (c,d) creates (ab,cd)
    whose count draws on up to four old pairs), and the i==j
    self-chain where a merged token collides with a pre-existing
    symbol of the same spelling (even-run residuals: ' l l l l ' ->
    ' ll l l ' leaves live (l,l) pairs next to 'll' tokens, so a
    later batch re-merging (l,l) grows (ll,ll) from two sides). The
    corpus below is built of exactly those shapes plus disjoint
    mid-count pairs landing near the guard's growth bound — the
    shape the sf0.01 fixture never exercises. The fix itself is
    justified by the four-slot matching proof in _bpe_fit (maxL+maxR
    accumulator); this corpus is the regression line that batched
    training at several widths still equals one-merge-per-collect
    sequential training merge-for-merge on chain-heavy input."""
    import os

    import pandas as pd

    from bitcoin_olap_spark.queries.llmdata import _bpe_fit

    words = (
        ["abcd"] * 900        # 4-symbol chain: (a,b)+(c,d) -> (ab,cd)
        + ["ab"] * 500        # lifts (a,b) to the top
        + ["cd"] * 450        # lifts (c,d) to second
        + ["ef"] * 880        # disjoint mid-count pair in the gap
        + ["gh"] * 860        # second gap pair
        + ["llll"] * 700      # even-run residual: 'll' token + live (l,l)
        + ["llllll"] * 200    # longer runs deepen the self-chain
        + ["xabcdy"] * 300    # chains with flanking context symbols
        + ["mn"] * 420
        + ["op"] * 410
        + ["qr"] * 150
        + ["st"] * 140
        + ["uv"] * 130
    )
    text = " ".join(words)
    sf = str(tmp_path / "sf_chain")
    os.makedirs(sf)
    pd.DataFrame({"doc_id": [1], "text": [text]}).to_parquet(
        os.path.join(sf, "documents.parquet"))
    _, _, seq = _bpe_fit(spark, sf, rounds=32, batch=1)
    # the corpus fuses completely before 32 rounds; what matters is
    # that every batched width replays the same exhaustion trace
    assert len(seq) >= 16
    for batch in (4, 8, 16):
        _, _, bat = _bpe_fit(spark, sf, rounds=32, batch=batch)
        assert bat == seq, f"batch={batch} diverged on chain corpus"


def test_bpe_driver_histogram_equals_distributed(spark, tmp_path):
    """VERDICT r10 #2: the driver-histogram fast path (one collect of
    the vocabulary-grain word histogram, classic BPE driver-side)
    must replay EXACTLY the distributed sequential loop's merge
    history — same pairs, same order, same counts — on (a) the
    sf0.01 fixture and (b) the chain-heavy corpus whose even-run
    residuals and cross-merge chains exercise the shared literal
    left-to-right non-overlapping replace semantics (Python
    str.replace vs Spark F.replace). Also pins the acceptance
    telemetry: one collect for the entire run."""
    import os

    import pandas as pd

    from bitcoin_olap_spark.queries.llmdata import _bpe_fit

    _, _, seq = _bpe_fit(spark, "/root/testdata/sf0.01", rounds=24, batch=1)
    stats: dict = {}
    _, _, drv = _bpe_fit(
        spark, "/root/testdata/sf0.01", rounds=24,
        driver_histogram_max=10**6, stats=stats,
    )
    assert drv == seq
    assert stats["mode"] == "driver_histogram"
    assert stats["accepts_per_collect"] == [24]

    words = (
        ["abcd"] * 900 + ["ab"] * 500 + ["cd"] * 450 + ["ef"] * 880
        + ["gh"] * 860 + ["llll"] * 700 + ["llllll"] * 200
        + ["xabcdy"] * 300 + ["mn"] * 420 + ["op"] * 410
    )
    sf = str(tmp_path / "sf_chain_drv")
    os.makedirs(sf)
    pd.DataFrame({"doc_id": [1], "text": [" ".join(words)]}).to_parquet(
        os.path.join(sf, "documents.parquet"))
    _, _, seq2 = _bpe_fit(spark, sf, rounds=32, batch=1)
    _, _, drv2 = _bpe_fit(spark, sf, rounds=32, driver_histogram_max=10**6)
    assert drv2 == seq2
    # budget gate: a vocab larger than the stated max falls back to
    # the distributed loop (mode never set)
    stats3: dict = {}
    _, _, fb = _bpe_fit(
        spark, sf, rounds=4, batch=4, driver_histogram_max=2,
        stats=stats3,
    )
    assert "mode" not in stats3
    assert fb == seq2[:4]


def test_bpe_checkpoint_cadence_bounds_plan_depth(spark):
    """The localCheckpoint cadence must actually bound the
    segmentation lineage: after a 24-round fit with cadence 8, the
    returned vocab relation's logical plan must be a checkpoint scan
    (constant depth), not a 24-deep F.replace chain — the r9 verdict's
    named 100x defect. Checked structurally: the plan string of the
    final materialization contains no replace() call older than the
    cadence window."""
    from bitcoin_olap_spark.queries.llmdata import _bpe_fit

    vocab, seg, merges = _bpe_fit(
        spark, "/root/testdata/sf0.01", rounds=24, batch=4,
        checkpoint_every=8,
    )
    assert len(merges) == 24
    final = vocab.select("freq", seg.alias("seg"))
    plan = final._jdf.queryExecution().analyzed().toString()
    # pending (un-checkpointed) replaces are bounded by cadence +
    # one trailing batch; everything older lives behind the
    # checkpoint scan
    assert plan.lower().count("replace(") < 8 + 4
    assert "LogicalRDD" in vocab._jdf.queryExecution().analyzed().toString()


def test_bpe_empty_corpus_stops_cleanly(spark, tmp_path):
    """ADVICE r9: an empty documents table (or one whose words are all
    single symbols after exhaustion) must end training with the merges
    learned so far — never IndexError on an empty top-pair collect."""
    import os

    from bitcoin_olap_spark.queries.llmdata import _bpe_fit

    import pandas as pd

    sf = str(tmp_path / "sf_empty")
    os.makedirs(sf)
    pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                  "text": pd.Series([], dtype="string")}).to_parquet(
        os.path.join(sf, "documents.parquet"))
    _, _, merges = _bpe_fit(spark, sf, rounds=4, batch=4)
    assert merges == []


def test_bpe_exhaustion_returns_partial_merges(spark, tmp_path):
    """A corpus that runs out of mergeable pairs before the requested
    round count returns the partial merge table (every word fused to
    one symbol modulo the documented even-run caveat), not an error."""
    import os

    from bitcoin_olap_spark.queries.llmdata import _bpe_fit

    import pandas as pd

    sf = str(tmp_path / "sf_tiny")
    os.makedirs(sf)
    pd.DataFrame({"doc_id": [1], "text": ["ab ab ab"]}).to_parquet(
        os.path.join(sf, "documents.parquet"))
    _, _, merges = _bpe_fit(spark, sf, rounds=10, batch=4)
    # only one mergeable pair exists: 'a b' -> 'ab', then nothing
    assert [(m[1], m[2]) for m in merges] == [("a b", "ab")]


def test_cdf_ddl_cache_pinned_to_table_incarnation(spark, tmp_path):
    """ADVICE r9 regression (a cached feed DDL): a table dropped and
    recreated at the same path that reaches the same head version with
    a DIFFERENT schema must not be served the old table's columns."""
    import shutil

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources.cdcfeed import register_cdcfeed

    def ddl(root):
        feed = spark.read.format("acid_cdf").option("path", root).load()
        return feed.schema.simpleString()

    register_cdcfeed(spark)
    root = str(tmp_path / "tbl")
    AT.init_table(spark, root, spark.range(0, 5).select("id"))
    ddl1 = ddl(root)
    assert "id:bigint" in ddl1
    shutil.rmtree(root)
    AT.init_table(
        spark,
        root,
        spark.range(0, 5).selectExpr(
            "CAST(id AS INT) AS other", "CAST(id AS STRING) AS name"
        ),
    )
    ddl2 = ddl(root)  # same root, same head version (0)
    assert "other:int" in ddl2 and "name:string" in ddl2
    assert "id:bigint" not in ddl2


def test_acid_delete_where_under_percent_encoded_root(spark, tmp_path):
    """ADVICE r9 regression (_strip_uri): a table root containing a
    space (URI-encodes to %20 in input_file_name) must still map every
    scanned URI back to its manifest entry — before the unquote fix,
    delete_where committed an EMPTY affected set and the rows silently
    survived."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    root = str(tmp_path / "dir with space" / "tbl")
    AT.init_table(spark, root, spark.range(0, 50).select("id"))
    AT.delete_where(spark, root, F.col("id") < 20)
    assert AT.snapshot(spark, root).count() == 30
    # MoR path exercises _live_dv_targets' interlock under the same
    # encoded root
    AT.delete_where_mor(spark, root, F.col("id") < 25)
    assert AT.snapshot(spark, root).count() == 25


def test_manifest_form_raises_on_unmapped_uri():
    """Companion guard: a scanned URI that maps to no manifest entry is
    a protocol violation and must raise, never be silently dropped
    into an empty 'affected' set (the loud-failure half of the ADVICE
    r9 fix)."""
    import pytest as _pytest

    from bitcoin_olap_spark.operators.acidtable import _manifest_form

    with _pytest.raises(ValueError, match="not in the snapshot manifest"):
        _manifest_form(["file:///nowhere/else.parquet"], ["/a/b.parquet"])


def test_acid_two_process_writer_contention(tmp_path):
    """VERDICT r9 ask #6: TWO OS PROCESSES (separate JVMs, separate
    SparkSessions) hammer one ACID table concurrently — writer A loops
    copy-on-write delete_where + optimize, writer B loops merge_upsert
    + vacuum — each re-running its WHOLE op from the new head on
    ConcurrentCommitError (the documented optimistic-concurrency
    discipline: the loser's rewrite is stale, so it must re-read).
    Locks in the commit protocol's claims under real interprocess
    interleaving, not single-process mocks:

    * exactly one winner per version (os.link manifest claim): the two
      writers' committed version sets are DISJOINT and contiguous
      with the init commit;
    * every surviving version resolves cleanly — manifest chain walks,
      every referenced data file exists on disk;
    * the final state is the serializable outcome: the ops are
      key-disjoint (A deletes ids 0..4, B updates values of 100..104),
      so ANY interleaving must land count == N-5 with B's updates
      applied and A's keys gone."""
    import json
    import os
    import subprocess
    import sys

    root = str(tmp_path / "contended_tbl")
    init_script = f"""
import sys
sys.path.insert(0, {str(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))!r})
from pyspark.sql import SparkSession, functions as F
from bitcoin_olap_spark.operators import acidtable as AT
spark = (SparkSession.builder.master("local[3]")
         .appName("acid-writer")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
root = {root!r}
"""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.session import get_spark

    spark = get_spark(app_name="acid-contention-parent")
    AT.init_table(
        spark, root,
        spark.range(0, 200).select("id", (F.col("id") * 10).alias("val")),
    )

    body_a = init_script + """
import json
from bitcoin_olap_spark.operators.acidtable import ConcurrentCommitError
committed = []
for k in range(5):
    for attempt in range(30):
        try:
            v = AT.delete_where(spark, root, F.col("id") == k)
            committed.append(["delete", v]); break
        except ConcurrentCommitError:
            continue
    else:
        raise SystemExit("delete never won")
    if k % 2 == 1:
        for attempt in range(30):
            try:
                v = AT.optimize(spark, root, target_files=2)
                committed.append(["optimize", v]); break
            except ConcurrentCommitError:
                continue
print("RESULT" + json.dumps(committed))
"""
    body_b = init_script + """
import json
from bitcoin_olap_spark.operators.acidtable import ConcurrentCommitError
committed = []
for k in range(100, 105):
    upd = spark.range(k, k + 1).select(
        "id", (F.col("id") * 1000).alias("val"))
    for attempt in range(30):
        try:
            v = AT.merge_upsert(spark, root, upd, ["id"])
            committed.append(["merge", v]); break
        except ConcurrentCommitError:
            continue
    else:
        raise SystemExit("merge never won")
    if k % 2 == 0:
        try:
            AT.vacuum(root, keep_versions=4)
            committed.append(["vacuum", -1])
        except ConcurrentCommitError:
            pass  # head kept moving; vacuum is best-effort here
print("RESULT" + json.dumps(committed))
"""
    procs = []
    for body in (body_a, body_b):
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", body],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
        )
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=540)
        assert p.returncode == 0, f"writer failed:\n{err[-3000:]}"
        line = [ln for ln in out.splitlines() if ln.startswith("RESULT")][-1]
        outs.append(json.loads(line[len("RESULT"):]))
    va = {v for op, v in outs[0] if v >= 0}
    vb = {v for op, v in outs[1] if v >= 0}
    # one winner per version: disjoint claims, contiguous with init
    assert va.isdisjoint(vb), f"version claimed twice: {va & vb}"
    head = AT.current_version(root)
    assert va | vb | {0} == set(range(head + 1))
    # every surviving version resolves: manifests walk, files exist
    cutoff = AT.vacuum_cutoff(root)
    for v in range(max(cutoff, 0), head + 1):
        for f in AT._resolve_files(root, v):
            assert os.path.exists(f), f"v{v} references missing {f}"
    # serializable outcome of key-disjoint ops
    final = AT.snapshot(spark, root)
    assert final.count() == 195
    got = {
        r["id"]: r["val"]
        for r in final.filter(
            (F.col("id") >= 100) & (F.col("id") < 105)
        ).collect()
    }
    assert got == {k: k * 1000 for k in range(100, 105)}
    assert final.filter(F.col("id") < 5).count() == 0


def test_make_sfn_text_deterministic_heaps_fixture(tmp_path):
    """tools/make_sfn_text.py contract: (a) deterministic for a given
    sf — byte-identical parquet content on regeneration, so both
    engines and later sessions measure the same corpus; (b) driver
    documents schema (doc_id/text/lang/source/n_chars with correct
    types, n_chars consistent with text); (c) vocabulary GROWS with
    corpus size (the Heaps property the fixture exists to provide —
    the key-shifted copy fixture grew vocabulary only by copy
    prefixes, the r10 verdict's missing #1)."""
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(repo, "tools", "make_sfn_text.py")

    def gen(sf, name):
        out = str(tmp_path / name)
        subprocess.run(
            [sys.executable, tool, str(sf), out],
            check=True, capture_output=True,
        )
        return pq.read_table(os.path.join(out, "documents.parquet"))

    a = gen(0.02, "a")   # 1000 docs
    b = gen(0.02, "b")
    assert a.equals(b), "same sf must regenerate identical content"
    assert a.column_names == [
        "doc_id", "text", "lang", "source", "n_chars"
    ]
    import pyarrow.compute as pc

    assert a.num_rows == 1000
    assert pc.min(a.column("doc_id")).as_py() == 0
    assert pc.max(a.column("doc_id")).as_py() == 999
    texts = a.column("text").to_pylist()
    assert all(
        n == len(t)
        for t, n in zip(texts, a.column("n_chars").to_pylist())
    )
    big = gen(0.08, "c")  # 4000 docs

    def vocab(tbl):
        words = set()
        for t in tbl.column("text").to_pylist():
            words.update(t.split())
        return words

    va, vb = vocab(a), vocab(big)
    # Heaps: 4x the docs must grow vocabulary substantially but
    # sublinearly (beta < 1); prefix property: the small corpus IS
    # the big one's first chunk at this chunk size, so va <= vb
    assert len(vb) > 1.4 * len(va)
    assert len(vb) < 3.9 * len(va)
