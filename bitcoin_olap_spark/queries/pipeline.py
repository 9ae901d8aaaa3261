"""End-to-end pipeline parity queries (SURVEY.md §5.3 / §7 Phase 4-5).

`pipeline_ledger_e2e` runs the reference's entire 6-stage ledger build
(plans/ledger.py) over deterministic Bitcoin-shaped fixtures and rolls
it up to the daily analytical grain. `pipeline_docs_e2e` is the
LLM-training-data analog: quality-filter -> exact-dedup -> language-ID
-> token-count -> per-language rollup, all one lazy DAG. The oracle SQL
constructs the SAME fixtures and stages in DuckDB — one query proving
the whole DAG, not just its operators, agrees across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import text as TX
from ..operators.cacheutil import scoped_cache
from ..plans import bitcoin_fixtures, ledger_daily_rollup, ledger_pipeline
from ..registry import query
from .llmdata import _LANG_CASE, _duck_markers

#: Stages 1-6 of the reference chain, txid discovery (`txid_sum`) and
#: the semi join included, over relations named `tx`, `addr_raw` and
#: `wloc`. `ledger` has the columns of `plans.ledger_pipeline`.
_LEDGER_ORACLE_CTES = """
addr AS (
    SELECT wallet, address FROM (
        SELECT wallet, address,
               row_number() OVER (PARTITION BY wallet, address
                                  ORDER BY wallet, address) AS rn
        FROM addr_raw
    ) WHERE rn = 1
), ins AS (
    SELECT t.hash, t.block_timestamp, u.txo.value AS sat_value,
           ia.addr
    FROM tx t, UNNEST(t.inputs) AS u(txo),
         UNNEST(u.txo.addresses) AS ia(addr)
), outs AS (
    SELECT t.hash, t.block_timestamp, u.txo.value AS sat_value,
           ia.addr
    FROM tx t, UNNEST(t.outputs) AS u(txo),
         UNNEST(u.txo.addresses) AS ia(addr)
), txid_sum AS (
    SELECT i.hash FROM ins i JOIN addr a ON i.addr = a.address
    UNION
    SELECT o.hash FROM outs o JOIN addr a ON o.addr = a.address
), flows AS (
    SELECT * FROM (
        SELECT block_timestamp, hash AS txid, 'input' AS type, addr,
               -sat_value AS sat
        FROM ins
        UNION ALL
        SELECT block_timestamp, hash, 'output', addr, sat_value
        FROM outs
    ) WHERE txid IN (SELECT hash FROM txid_sum)
), ledger AS (
    SELECT f.block_timestamp, f.txid, f.type, f.addr, f.sat, a.wallet,
           w.location,
           CASE WHEN f.block_timestamp >= TIMESTAMP '1995-06-17 00:00:00'
                THEN 'post' ELSE 'pre' END AS period
    FROM flows f
    JOIN addr a ON f.addr = a.address
    JOIN wloc w ON a.wallet = w.wallet
)
"""

_E2E_ORACLE = """
WITH base AS (
    SELECT o_orderkey AS k, o_orderdate,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS sat,
           'a' || CAST((o_orderkey * 2 + 1) % 2000 AS VARCHAR) AS a1,
           'a' || CAST((o_orderkey * 3 + 2) % 2000 AS VARCHAR) AS a2
    FROM orders
), tx AS (
    SELECT CAST(k AS VARCHAR) AS hash, o_orderdate AS block_timestamp,
           CASE WHEN k % 97 = 0
                THEN CAST([] AS STRUCT(value BIGINT, addresses VARCHAR[])[])
                WHEN k % 2 = 0
                THEN [{'value': sat + 1, 'addresses': [a1]}]
                ELSE [{'value': sat + 1, 'addresses': [a1]},
                      {'value': sat + 2, 'addresses': [a1, a2]}]
           END AS inputs,
           CASE WHEN k % 89 = 0
                THEN CAST([] AS STRUCT(value BIGINT, addresses VARCHAR[])[])
                WHEN k % 3 = 0
                THEN [{'value': sat + 3, 'addresses': [a2]}]
                ELSE [{'value': sat + 3, 'addresses': [a2]},
                      {'value': sat + 4, 'addresses': [a2, a1]}]
           END AS outputs
    FROM base
), addr_raw AS (
    SELECT 'w' || CAST((c_custkey * 7) % 50 AS VARCHAR) AS wallet,
           'a' || CAST(c_custkey % 1999 AS VARCHAR) AS address
    FROM customer
    UNION ALL
    SELECT 'w' || CAST((c_custkey * 7) % 50 AS VARCHAR),
           'a' || CAST(c_custkey % 1999 AS VARCHAR)
    FROM customer WHERE c_custkey % 5 = 0
), wloc AS (
    SELECT 'w' || CAST(wid AS VARCHAR) AS wallet,
           CASE wid % 7 WHEN 0 THEN 'China' WHEN 1 THEN 'Russia'
                WHEN 2 THEN 'US' WHEN 3 THEN '?' WHEN 4 THEN NULL
                WHEN 5 THEN 'Brazil,Zibralter,Mexico'
                ELSE 'Germany' END AS location
    FROM (SELECT DISTINCT (c_custkey * 7) % 50 AS wid FROM customer)
),""" + _LEDGER_ORACLE_CTES + """\
SELECT CAST(date_trunc('day', block_timestamp) AS TIMESTAMP) AS day,
       location, period, type,
       CAST(SUM(sat) AS DOUBLE) / 100000000 AS flow_btc,
       COUNT(*) AS n_rows
FROM ledger
GROUP BY 1, 2, 3, 4
"""


@query("pipeline_ledger_e2e", oracle=_E2E_ORACLE)
def pipeline_ledger_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 6-stage ledger pipeline as ONE lazy DAG, rolled
    up to daily grain. The Spark side folds txid discovery into the
    address join (plans/ledger.py); the oracle runs every stage (dedup
    -> txid discovery via explode+join x2 -> union-distinct -> signed
    lateral flows -> dim enrichment), so parity checks the fold.
    Satoshi arithmetic stays BIGINT end-to-end so both engines sum
    exactly."""
    tx, addr_raw, wloc = bitcoin_fixtures(spark, sf_dir)
    return ledger_daily_rollup(ledger_pipeline(tx, addr_raw, wloc))


_DOCS_E2E_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_words,
           CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> list_contains(['the','and','of','to','a','in',
                                        'is','it','that','for'], w)))
                AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
), kept AS (
    SELECT doc_id, text, n_words,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
    FROM scored
    WHERE n_words >= 20 AND stopword_ratio >= 0.01
), deduped AS (
    SELECT * FROM kept
    WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY fingerprint)
), lang AS (
    SELECT doc_id, n_words, re_tokens, {_LANG_CASE} AS lang_pred
    FROM (
        SELECT doc_id, n_words,
               len(regexp_extract_all(lower(text), '{TX.TOKEN_RE}'))
                   AS re_tokens,
               {_duck_markers('en')} AS s_en,
               {_duck_markers('de')} AS s_de,
               {_duck_markers('es')} AS s_es,
               {_duck_markers('fr')} AS s_fr
        FROM deduped
    )
)
SELECT lang_pred, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(re_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_words) AS DOUBLE) / COUNT(*) AS avg_words
FROM lang GROUP BY 1
"""


@query("pipeline_docs_e2e", oracle=_DOCS_E2E_ORACLE)
def pipeline_docs_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data prep pipeline over `documents` as ONE
    lazy DAG: quality filter (word count + stopword ratio) -> exact
    fingerprint dedup (min-id survivor via aggregate + semi-join) ->
    language-ID -> BPE-ish token count -> per-language corpus stats.

    Everything JVM-side built-ins; the only shuffles are the dedup
    aggregate/semi-join and the final tiny rollup. At 100 TB the dedup
    semi-join shuffles on doc_id (uniform) and the rest is map-only —
    the same shape DataComp/Dolma-style corpus pipelines run."""
    docs = table(spark, sf_dir, "documents")
    m = TX.quality_metrics("text")
    scored = docs.select(
        "doc_id",
        "text",
        m["n_words"].alias("n_words"),
        m["stopword_ratio"].alias("stopword_ratio"),
    )
    kept = scored.filter(
        (F.col("n_words") >= 20) & (F.col("stopword_ratio") >= 0.01)
    ).select("doc_id", "text", "n_words", TX.fingerprint("text").alias("fingerprint"))
    keep_ids = kept.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    deduped = kept.join(keep_ids.select("doc_id"), "doc_id", "left_semi")
    t = TX.token_counts("text")
    lang = deduped.select(
        "doc_id",
        "n_words",
        t["re_tokens"].alias("re_tokens"),
        TX.lang_predict("text").alias("lang_pred"),
    )
    return lang.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("re_tokens").alias("total_tokens"),
        (F.sum("n_words").cast("double") / F.count(F.lit(1))).alias(
            "avg_words"
        ),
    )


from ..operators import multimodal as MM  # noqa: E402


@query(
    "pipeline_mm_e2e",
    oracle="""
    WITH docs_f AS (
      SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS m, text
      FROM documents WHERE doc_id % 3 <> 1
    ), sur AS (
      SELECT min(doc_id) AS doc_id FROM docs_f GROUP BY text
    ), raw AS (
      SELECT d.doc_id, d.m,
             least(octet_length(encode(d.text)), 256) AS rl,
             left(upper(hex(encode(d.text))),
                  2 * least(octet_length(encode(d.text)), 256)) AS hx
      FROM docs_f d JOIN sur USING (doc_id)
    ), geo AS (
      SELECT doc_id, m, rl,
        CASE WHEN m = 0 THEN 48 * greatest(1, (rl + 47) // 48)
             ELSE 384 * greatest(1, (rl + 383) // 384) END AS body,
        regexp_replace(hx, '(.).', '\\1', 'g') AS nib
      FROM raw
    ), meta AS (
      SELECT doc_id, m, rl, body, nib,
        CASE WHEN m = 0
             THEN 11 + length(CAST(body // 48 AS VARCHAR)) + body
             ELSE 37 + 390 * (body // 384) END AS n_bytes
      FROM geo
    ), per_bin AS (
      SELECT t.doc_id, t.m, t.n_bytes, b.k,
        length(t.nib)
          - length(replace(t.nib,
              substr('0123456789ABCDEF', 1 + CAST(b.k AS INTEGER), 1),
              ''))
          + CASE WHEN b.k = 0 THEN t.body - t.rl ELSE 0 END AS cnt
      FROM meta t CROSS JOIN (SELECT unnest(range(16)) AS k) b
    ), doc AS (
      SELECT doc_id, m, n_bytes, sum(cnt * cnt) AS featsq
      FROM per_bin GROUP BY doc_id, m, n_bytes
    ), agg AS (
      SELECT CASE WHEN m = 0 THEN 'image/ppm' ELSE 'video/y4m' END
               AS format,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             CAST(sum(featsq) AS BIGINT) AS sum_feat_sq
      FROM doc GROUP BY 1
    ), fmt_raw AS (
      SELECT CASE WHEN m = 0 THEN 'image/ppm' ELSE 'video/y4m' END
               AS format,
             CAST(count(*) AS BIGINT) AS n_raw
      FROM docs_f GROUP BY 1
    )
    SELECT a.format, a.n_docs,
           f.n_raw - a.n_docs AS n_dupes_removed,
           a.total_bytes, a.sum_feat_sq
    FROM agg a JOIN fmt_raw f USING (format)
    """,
)
def pipeline_mm_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal curation DAG — the visual/audio half of
    what pipeline_docs_e2e does for text: metadata filter (drop audio)
    -> exact payload dedup (digest groupBy, min-id survivor — no
    payload bytes move for dedup, only 16-byte digests shuffle) ->
    resize to a 256-byte budget (payload-local mapInPandas; bytes
    SHRINK before the expensive stage, the ordering that matters at
    100 TB) -> transcode into real containers (PPM/Y4M) -> REAL codec
    decode (container header parse + pixel-value histogram,
    decode_media) -> per-format rollup. One lazy plan: the only
    shuffles are the digest dedup and the final 4-row aggregate;
    everything between is map-side. The feature rollup is the exact
    int64 sum of squared histogram COUNTS (order-free integer
    arithmetic, no float accumulation), which lets the whole DAG —
    including the codec stage — hash-match a DuckDB twin that
    reproduces the decoded-value histograms by hex-nibble counting
    (see queries/multimodal._DECODE_ORACLE_TAIL for the derivation)."""
    media = MM.attach_blob(
        table(spark, sf_dir, "documents", spread=True), "doc_id", "text"
    )
    keep = media.filter(F.col("media_meta.format") != "audio/wav")
    # the digest relation is consumed twice (dedup survivors and the
    # per-format raw counts): cache it so the payload-md5 map pass
    # runs once — 24 bytes/row cached, never the blobs
    fmt = scoped_cache(keep.select(
        "doc_id", F.md5("blob").alias("digest"),
        F.col("media_meta.format").alias("format"),
    ))
    survivors = (
        fmt.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = keep.join(survivors, "doc_id", "left_semi")
    # fused resize->transcode->decode->featurize: payload bytes cross
    # the Python seam ONCE (operators/multimodal.curate_features);
    # byte-identical to the three-stage composition, which would
    # Arrow-serialize every payload three times. with_format passes
    # the format tag out of the Python stage, so the per-format
    # rollup groups directly — no join back to the metadata relation,
    # one fewer exchange of the feature rows (r4 verdict item 7)
    feats = MM.curate_features(
        kept, "doc_id", target_bytes=256, with_format=True
    )
    featsq = F.aggregate(
        "features", F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    raw_counts = fmt.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    return (
        feats.groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum(featsq).alias("sum_feat_sq"),
        )
        .join(raw_counts, "format")
        .select(
            "format",
            "n_docs",
            (F.col("n_raw") - F.col("n_docs")).alias("n_dupes_removed"),
            "total_bytes",
            "sum_feat_sq",
        )
    )


from ..operators import chunking as C  # noqa: E402

_TRAIN_E2E_ORACLE = """
WITH scored AS (
    SELECT doc_id, source, text,
           len(string_split(text, ' ')) AS n_words,
           CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> list_contains(['the','and','of','to','a','in',
                                        'is','it','that','for'], w)))
                AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
), kept AS (
    SELECT doc_id, source, text, n_words,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
    FROM scored
    WHERE n_words >= 20 AND stopword_ratio >= 0.01
), deduped AS (
    SELECT * FROM kept
    WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY fingerprint)
), tr AS (
    SELECT * FROM deduped WHERE doc_id % 10 <> 0
), words AS (
    SELECT doc_id, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM tr)
), sh AS (
    SELECT DISTINCT doc_id,
           w || ' ' || lead(w, 1) OVER win || ' ' ||
           lead(w, 2) OVER win || ' ' || lead(w, 3) OVER win || ' ' ||
           lead(w, 4) OVER win AS shingle
    FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lead(w, 4) OVER win IS NOT NULL
), ho AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0
), contaminated AS (
    SELECT DISTINCT s.doc_id
    FROM sh s JOIN ho ON s.shingle = ho.shingle
    WHERE s.doc_id % 10 <> 0
), clean AS (
    SELECT t.* FROM tr t
    WHERE t.doc_id NOT IN (SELECT doc_id FROM contaminated)
), chunked AS (
    SELECT doc_id,
           CASE WHEN n_words <= 64 THEN 1
                ELSE CAST(ceil((n_words - 64) / 48.0) AS BIGINT) + 1
           END AS k,
           n_words
    FROM clean
), per_doc AS (
    SELECT c.doc_id, MAX(c.k) AS n_chunks,
           CAST(SUM(least(c.n_words - i * 48, 64)) AS BIGINT)
               AS chunk_words
    FROM chunked c, UNNEST(range(c.k)) AS t(i)
    GROUP BY 1
)
SELECT cl.source,
       CASE WHEN substr(md5(CAST(cl.doc_id AS VARCHAR)), 1, 2) < '0d'
              THEN 'val'
            WHEN substr(md5(CAST(cl.doc_id AS VARCHAR)), 1, 2) < '1a'
              THEN 'test'
            ELSE 'train' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(p.chunk_words) AS BIGINT) AS total_chunk_words
FROM clean cl JOIN per_doc p USING (doc_id)
GROUP BY 1, 2
"""


@query("pipeline_train_e2e", oracle=_TRAIN_E2E_ORACLE)
def pipeline_train_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full TRAINING-DATA curation DAG as one lazy plan — the
    LLM-data counterpart of pipeline_ledger_e2e's reference DAG:
    quality gate (word count + stopword ratio) -> exact fingerprint
    dedup (min-id survivor) -> benchmark DECONTAMINATION (drop any
    training doc sharing a distinct word-5-gram with the holdout
    tenth — the n-gram-overlap pass every eval-clean corpus runs) ->
    overlapping 64/48 word-window chunking (map-only explode) ->
    deterministic md5 train/val/test split -> per-(source, split)
    accounting of surviving docs, chunks, and chunk words.

    Shuffle inventory at 100 TB: the dedup aggregate + semi-join
    (doc_id, uniform), ONE shingle exchange for the contamination
    semi-join (holdout-distinct side is ~1/10 corpus and AQE
    broadcasts it from measured size), and the final tiny rollup;
    chunking and split assignment never leave the row. Every stage
    reuses a registered operator's exact semantics, so the composed
    oracle is the composition of their oracles — the whole pipeline
    hash-matches end to end."""
    # spread: the single-file source reads as ONE partition, and the
    # shingle explodes are the DAG's CPU (5-gram construction over the
    # whole corpus) — round-robin the cheap pre-explode rows first
    docs = table(spark, sf_dir, "documents", spread=True)
    m = TX.quality_metrics("text")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        m["n_words"].alias("n_words"),
        m["stopword_ratio"].alias("stopword_ratio"),
    )
    kept = scored.filter(
        (F.col("n_words") >= 20) & (F.col("stopword_ratio") >= 0.01)
    ).select(
        "doc_id",
        "source",
        "text",
        "n_words",
        TX.fingerprint("text").alias("fingerprint"),
    )
    keep_ids = kept.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = kept.join(keep_ids.select("doc_id"), "doc_id", "left_semi")
    train = deduped.filter(F.col("doc_id") % 10 != 0)
    ho_sh = (
        TX.shingles(
            docs.filter(F.col("doc_id") % 10 == 0), "doc_id", "text", n=5
        )
        .select("shingle")
        .distinct()
    )
    contaminated = (
        TX.shingles(train, "doc_id", "text", n=5)
        .join(ho_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    per_doc = (
        C.chunk_words(
            clean.select("doc_id", "text"), "doc_id", "text",
            size=64, stride=48,
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_words").alias("chunk_words"),
        )
    )
    h2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(h2 < "0d", "val").when(h2 < "1a", "test").otherwise("train")
    )
    return (
        clean.join(per_doc, "doc_id")
        .select("source", split.alias("split"), "n_chunks", "chunk_words")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("chunk_words").cast("long").alias("total_chunk_words"),
        )
    )


_RAG_E2E_ORACLE = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ck AS (
        SELECT doc_id, ws, len(ws) AS n,
               CASE WHEN len(ws) <= 64 THEN 1
                    ELSE CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT) + 1
               END AS k
        FROM w
    ), corp AS (
        SELECT doc_id * 1000 + i AS cid, doc_id, i AS chunk_id,
               array_to_string(
                   ws[CAST(i * 48 + 1 AS BIGINT):
                      CAST(i * 48 + 64 AS BIGINT)], ' ') AS chunk_text
        FROM ck, UNNEST(range(ck.k)) AS t(i)
    ), cex AS (
        SELECT cid, w FROM (
            SELECT cid, unnest(string_split(lower(chunk_text), ' ')) AS w
            FROM corp
        ) WHERE w != ''
    ), cpost AS (
        SELECT cid, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM cex GROUP BY 1, 2
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM corp),
    idf AS (
        SELECT w, ln(CAST(nd.n + 1 AS DOUBLE)
                     / CAST(COUNT(*) + 1 AS DOUBLE)) + 1.0 AS idf
        FROM cpost, nd GROUP BY w, nd.n
    ), cw AS (
        SELECT p.cid, p.w, CAST(p.tf AS DOUBLE) * i.idf AS wt
        FROM cpost p JOIN idf i ON i.w = p.w
    ), cnorm AS (
        SELECT cid, sqrt(SUM(wt * wt)) AS nc FROM cw GROUP BY 1
    ), qex AS (
        SELECT q, w FROM (
            SELECT doc_id AS q,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents WHERE doc_id < 3
        ) WHERE w != ''
    ), qtf AS (
        SELECT q, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM qex GROUP BY 1, 2
    ), qw AS (
        SELECT t.q, t.w, CAST(t.tf AS DOUBLE) * i.idf AS wq
        FROM qtf t JOIN idf i ON i.w = t.w
    ), qnorm AS (
        SELECT q, sqrt(SUM(wq * wq)) AS nq FROM qw GROUP BY 1
    ), dots AS (
        SELECT qw.q, cw.cid, SUM(qw.wq * cw.wt) AS dot
        FROM qw JOIN cw ON cw.w = qw.w GROUP BY 1, 2
    ), scored AS (
        SELECT d.q, c2.doc_id, c2.chunk_id,
               round(d.dot / (cn.nc * qn.nq), 6) AS cosine
        FROM dots d
        JOIN cnorm cn ON cn.cid = d.cid
        JOIN qnorm qn ON qn.q = d.q
        JOIN corp c2 ON c2.cid = d.cid
        WHERE c2.doc_id != d.q
    )
    SELECT q AS query_id, CAST(rnk AS BIGINT) AS rnk,
           doc_id AS src_doc, CAST(chunk_id AS BIGINT) AS chunk_id,
           cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q ORDER BY cosine DESC, doc_id, chunk_id) AS rnk
        FROM scored
    ) WHERE rnk <= 3
"""


@query("pipeline_rag_e2e", oracle=_RAG_E2E_ORACLE)
def pipeline_rag_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval pipeline end to end — the RAG indexing + serving
    DAG as ONE lazy plan: (1) chunk every document into overlapping
    64/48 word windows (operators/chunking.chunk_words, map-only);
    (2) build the chunk-grain tf-idf inverted index (the
    sim_tfidf_topk machinery at retrieval grain: one term
    repartition carries the tf aggregate, the df count window, and
    the idf weighting); (3) score the query documents (doc_id < 3)
    against the index through the term-keyed postings join — each
    executor touches only chunks sharing a term with a query; (4)
    return the top-3 retrieved chunks per query (self-document
    excluded — you don't retrieve from the query's own source),
    ranked on 6 dp-rounded cosine with (src_doc, chunk_id)
    tiebreaks. Chunk identity rides a composite cid = doc*1000+idx
    so provenance (which document, which window) survives to the
    output — what a retrieval eval needs. The oracle replays chunking,
    indexing, weighting, and ranking bit-for-bit in SQL."""
    docs = table(spark, sf_dir, "documents", spread=True)
    from pyspark.sql.window import Window

    chunks = C.chunk_words(docs, "doc_id", "text", size=64, stride=48)
    corp = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("cid"),
        "doc_id",
        "chunk_id",
        F.col("chunk_text").alias("text"),
    )
    cex = corp.select(
        "cid", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    cpost = cex.repartition("w").groupBy("cid", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_chunks = corp.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = F.log(
        (F.col("n_docs") + 1).cast("double")
        / (F.col("df") + 1).cast("double")
    ) + F.lit(1.0)
    cw = (
        cpost.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("w"))
        )
        .crossJoin(F.broadcast(n_chunks))
        .select(
            "cid",
            "w",
            (F.col("tf").cast("double") * idf).alias("wt"),
            idf.alias("idf"),
        )
        .transform(scoped_cache)
    )
    cnorm = cw.groupBy("cid").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nc")
    )
    idf_dict = cw.select("w", "idf").distinct()
    qex = (
        docs.filter(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("q"),
            F.explode(F.split(F.lower("text"), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    qtf = qex.groupBy("q", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    qw = qtf.join(idf_dict, "w").select(
        "q", "w", (F.col("tf").cast("double") * F.col("idf")).alias("wq")
    )
    qnorm = qw.groupBy("q").agg(
        F.sqrt(F.sum(F.col("wq") * F.col("wq"))).alias("nq")
    )
    dots = (
        qw.join(cw.select("cid", "w", "wt"), "w")
        .groupBy("q", "cid")
        .agg(F.sum(F.col("wq") * F.col("wt")).alias("dot"))
    )
    scored = (
        dots.join(cnorm, "cid")
        # query-side norms are query-batch-bounded (3 rows here):
        # un-hinted the planner SORT-MERGED this join, sorting the
        # (q, cid) score relation on q for a 3-row probe (executed-plan
        # sweep); broadcast is the retrieval-serving discipline — the
        # query batch is the small side at any corpus size
        .join(F.broadcast(qnorm), "q")
        .join(corp.select("cid", "doc_id", "chunk_id"), "cid")
        .filter(F.col("doc_id") != F.col("q"))
        .select(
            "q",
            "doc_id",
            "chunk_id",
            F.round(
                F.col("dot") / (F.col("nc") * F.col("nq")), 6
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("q").orderBy(
        F.col("cosine").desc(), "doc_id", "chunk_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("q").alias("query_id"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("doc_id").alias("src_doc"),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "cosine",
        )
    )


_WEB_E2E_ORACLE = """
WITH u AS (
    SELECT doc_id, source, lang, text,
      CASE CAST(doc_id % 3 AS INT)
        WHEN 0 THEN 'https://' || source || '.example.com/p'
             || CAST(doc_id % 23 AS VARCHAR)
        WHEN 1 THEN 'HTTPS://' || upper(source || '.example.com')
             || ':443/p' || CAST(doc_id % 23 AS VARCHAR)
        ELSE 'https://' || source || '.example.com/p'
             || CAST(doc_id % 23 AS VARCHAR)
             || '/?utm_source=x&utm_campaign=y'
      END AS url
    FROM documents
), c AS (
    SELECT doc_id, source, lang, text,
      'https://'
        || lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1))
        || regexp_replace(COALESCE(regexp_extract(url,
               '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1), ''), '/$', '')
      AS canon_url
    FROM u
), survivors AS (
    SELECT * FROM c
    WHERE doc_id IN (SELECT MIN(doc_id) FROM c GROUP BY canon_url)
), gm AS (
    SELECT doc_id, source, lang, text,
           string_split(lower(text), ' ') AS ws,
           string_split(text, chr(10)) AS lines
    FROM survivors
), gf AS (
    SELECT doc_id, source, lang, text,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(ws, w -> length(w)))
                AS DOUBLE) / len(ws) AS mean_word_len,
           CAST(len(list_filter(ws,
                    w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / len(ws) AS alpha_frac,
           CAST(len(list_filter(ws,
                    w -> contains(w, '#') OR contains(w, '...')))
                AS DOUBLE) / len(ws) AS symbol_frac,
           CAST(len(list_filter(ws,
                    w -> list_contains(['the','be','to','of','and',
                                        'that','have','with'], w)))
                AS BIGINT) AS n_stop,
           CAST(len(list_filter(lines,
                    l -> starts_with(l, '-') OR starts_with(l, '*')
                         OR starts_with(l, '•'))) AS DOUBLE)
               / len(lines) AS bullet_frac,
           CAST(len(list_filter(lines, l -> ends_with(l, '...')))
                AS DOUBLE) / len(lines) AS ellipsis_frac
    FROM gm
), quality AS (
    SELECT doc_id, source, lang, text, n_words FROM gf
    WHERE n_words >= 50 AND n_words <= 100000
      AND mean_word_len >= 3 AND mean_word_len <= 10
      AND symbol_frac <= 0.1 AND alpha_frac >= 0.8
      AND n_stop >= 2 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
), w AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM quality
), wc AS (
    SELECT doc_id, w FROM w WHERE w != ''
), lm AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wc GROUP BY 1
), tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM lm
), s AS (
    SELECT wc.doc_id,
           round(SUM(-ln(CAST(lm.cnt AS DOUBLE) / tot.n))
                 / COUNT(*), 6) AS avg_neg_logp
    FROM wc JOIN lm USING (w) CROSS JOIN tot
    GROUP BY 1
), b AS (
    SELECT q.source, q.lang, q.n_words, s.doc_id,
           ntile(3) OVER (PARTITION BY q.lang
                          ORDER BY s.avg_neg_logp, s.doc_id) AS t
    FROM s JOIN quality q USING (doc_id)
)
SELECT source, lang,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words
FROM b WHERE t < 3
GROUP BY 1, 2, 3
"""


@query("pipeline_web_e2e", oracle=_WEB_E2E_ORACLE)
def pipeline_web_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEB-CRAWL curation cascade (the CCNet / RefinedWeb recipe) as
    ONE lazy plan: URL-canonicalization dedup -> Gopher rule gate ->
    CCNet per-language perplexity terciles (LM trained on the
    SURVIVORS, as the recipe specifies — filtering order matters and
    the oracle replays it) -> per-(source, lang, bucket) accounting
    with the tail bucket dropped. Every stage reuses a registered
    operator's exact semantics (text_dedup_url's canon form,
    text_gopher_rules' integer-ratio gate, sample_ccnet_buckets'
    6dp-score terciles), so the composed oracle hash-matches end to
    end. URLs are synthesized in-query with three messiness classes
    (case+port / utm params / plain) that canonicalize together, so
    the first stage genuinely deduplicates.

    Scale shape: stages 1-2 are map-only after ONE canonical-URL
    shuffle (min-id survivor via aggregate, AQE-broadcast semi-join
    back); the LM is vocabulary-sized and broadcast; the tercile
    window shuffles once on lang (swap ntile for distributed
    prefix-sum boundaries if one language outgrows an executor); the
    final accounting grain is sources x langs x 3. Bytes shrink
    monotonically through the cascade — the property that makes the
    recipe run at crawl scale."""
    docs = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "lang", "text"
    )
    base = F.concat(F.col("source"), F.lit(".example.com"))
    k = (F.col("doc_id") % 23).cast("string")
    m = F.col("doc_id") % 3
    url = (
        F.when(
            m == 0,
            F.concat(F.lit("https://"), base, F.lit("/p"), k),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(base), F.lit(":443/p"), k
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"),
                base,
                F.lit("/p"),
                k,
                F.lit("/?utm_source=x&utm_campaign=y"),
            )
        )
    )
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.regexp_replace(
        F.parse_url(url, F.lit("PATH")), "/$", ""
    )
    canon = F.concat(F.lit("https://"), host, path)
    c = docs.select("doc_id", "source", "lang", "text", canon.alias("canon_url"))
    from pyspark.sql.window import Window

    surv = (
        c.withColumn(
            "_min",
            F.min("doc_id").over(Window.partitionBy("canon_url")),
        )
        .filter(F.col("doc_id") == F.col("_min"))
        .drop("_min", "canon_url")
    )
    g = TX.gopher_metrics("text")
    keep = (
        (g["n_words"] >= 50)
        & (g["n_words"] <= 100000)
        & (g["mean_word_len"] >= 3)
        & (g["mean_word_len"] <= 10)
        & (g["symbol_frac"] <= 0.1)
        & (g["alpha_frac"] >= 0.8)
        & (g["n_stop"] >= 2)
        & (g["bullet_frac"] <= 0.9)
        & (g["ellipsis_frac"] <= 0.3)
    )
    quality = surv.filter(keep).withColumn(
        "n_words", g["n_words"]
    )
    wc = quality.select(
        "doc_id",
        F.explode(TX.words(F.lower(F.col("text")))).alias("w"),
    ).filter(F.col("w") != "")
    lm = (
        wc.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()
    )
    tot = lm.agg(F.sum("cnt").cast("long").alias("n"))
    neg_logp = -F.log(F.col("cnt").cast("double") / F.col("n"))
    scores = (
        wc.join(F.broadcast(lm), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(neg_logp) / F.count(F.lit(1)), 6).alias(
                "avg_neg_logp"
            )
        )
    )
    b = scores.join(
        quality.select("doc_id", "source", "lang", "n_words"),
        "doc_id",
    ).withColumn(
        "t",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy(
                "avg_neg_logp", "doc_id"
            )
        ),
    )
    return (
        b.filter(F.col("t") < 3)
        .groupBy(
            "source",
            "lang",
            F.when(F.col("t") == 1, "head")
            .otherwise("middle")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
    )
