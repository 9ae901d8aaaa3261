"""End-to-end ledger pipeline — the reference's whole 6-stage DAG
(SURVEY.md §3.1) as ONE lazy DataFrame chain.

Reference chain (each stage a separate BigQuery CTAS, a machine
boundary per stage):

1. dedup `address_table2` in place              — btcolap.sql:1-15
2. `txid_input2`  = inputs x UNNEST ⋈ addr      — btcolap.sql:35-59
3. `txid_output2` = outputs x UNNEST ⋈ addr     — btcolap.sql:62-85
4. `txid_sum3`    = UNION DISTINCT of 2+3       — btcolap.sql:301-313
5. `simple_flow*` = transactions lateral-unnest ⋈ txid_sum, signed
   satoshi→BTC, pre/post split on the SAFE date — btcolap.sql:316-408
6. `*_walletlocation` = ⋈ wallet_location dim   — btcolap.sql:412-451

Here the stages are plain DataFrame compositions over ONE SparkSession:
Catalyst sees the full DAG (column pruning through every stage,
predicate pushdown into the scans) and nothing is materialized until
the caller acts. Stages 2-4 need no plan of their own: the address
join of stage 6 keeps exactly the flow rows whose own address is
tracked, so their txids are in `txid_sum` by construction (proof in
`ledger_pipeline`), and the plan is one scan -> explode -> join chain.
The DuckDB oracle keeps the full 6-stage chain. The reference's
pre/post-SAFE *table split* becomes a `period` column — at scale the
ledger write is `partitionBy(day)`, so period/date predicates prune
partitions instead of needing two tables (SURVEY.md §4).

The Bitcoin-shaped fixture tables (FIXTURES.md §A) are derived
deterministically (no RNG) from the driver's `orders`/`customer`
testdata so the DuckDB oracle can construct byte-identical fixtures
from the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table

#: the '2021-09-24' SAFE-policy split (btcolap.sql:322,:370) mapped into
#: the orders date range
SPLIT_TS = "1995-06-17 00:00:00"

_STRUCT_T = "array<struct<value:bigint,addresses:array<string>>>"


#: FIXTURES.md §A1 as SQL projections over `orders`: the oracle's
#: `base` and `tx` CTEs (`queries.pipeline._E2E_ORACLE`)
_BASE = (
    "o_orderkey AS k",
    "o_orderdate",
    "CAST(floor(o_totalprice * 100) AS BIGINT) AS sat",
    "concat('a', CAST((o_orderkey * 2 + 1) % 2000 AS STRING)) AS a1",
    "concat('a', CAST((o_orderkey * 3 + 2) % 2000 AS STRING)) AS a2",
)
_TX = (
    "CAST(k AS STRING) AS hash",
    "o_orderdate AS block_timestamp",
    f"""CASE WHEN k % 97 = 0 THEN CAST(array() AS {_STRUCT_T})
        WHEN k % 2 = 0
        THEN array(named_struct('value', sat + 1, 'addresses', array(a1)))
        ELSE array(named_struct('value', sat + 1, 'addresses', array(a1)),
                   named_struct('value', sat + 2, 'addresses', array(a1, a2)))
        END AS inputs""",
    f"""CASE WHEN k % 89 = 0 THEN CAST(array() AS {_STRUCT_T})
        WHEN k % 3 = 0
        THEN array(named_struct('value', sat + 3, 'addresses', array(a2)))
        ELSE array(named_struct('value', sat + 3, 'addresses', array(a2)),
                   named_struct('value', sat + 4, 'addresses', array(a2, a1)))
        END AS outputs""",
)
#: §A3/§A4 over `customer`: the oracle's `addr_raw` and `wloc` CTEs
_PAIR = (
    "concat('w', CAST((c_custkey * 7) % 50 AS STRING)) AS wallet",
    "concat('a', CAST(c_custkey % 1999 AS STRING)) AS address",
)
_WLOC = (
    "concat('w', CAST(wid AS STRING)) AS wallet",
    "CASE wid % 7 WHEN 0 THEN 'China' WHEN 1 THEN 'Russia' WHEN 2 THEN 'US' "
    "WHEN 3 THEN '?' WHEN 4 THEN CAST(NULL AS STRING) "
    "WHEN 5 THEN 'Brazil,Zibralter,Mexico' ELSE 'Germany' END AS location",
)


def bitcoin_fixtures(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(transactions, address_table_with_dupes, wallet_location) —
    FIXTURES.md §A1/§A3/§A4 (the spec) derived deterministically from
    orders/customer. Array lengths vary 0..2 (empty arrays pin
    explode-vs-explode_outer semantics, SURVEY.md §4 last para);
    address_table carries exact duplicate pairs (every 5th customer
    re-added) to exercise the dedup stage.

    Each fixture is a few `selectExpr` projections that mirror the
    DuckDB oracle's `base`/`tx`/`addr_raw`/`wloc` CTEs. Each
    projection is one py4j call; the same expressions built as about
    a hundred Column objects took at least one call each."""
    tx = (
        table(spark, sf_dir, "orders")
        .selectExpr(*_BASE)
        .selectExpr(*_TX)
        .selectExpr(
            "*",
            "CAST(size(inputs) AS BIGINT) AS input_count",
            "CAST(size(outputs) AS BIGINT) AS output_count",
        )
    )
    c = table(spark, sf_dir, "customer")
    addr_raw = c.selectExpr(*_PAIR).unionByName(
        c.where("c_custkey % 5 = 0").selectExpr(*_PAIR)
    )
    wloc = (
        c.selectExpr("(c_custkey * 7) % 50 AS wid")
        .distinct()
        .selectExpr(*_WLOC)
    )
    return tx, addr_raw, wloc


def dedup_addresses(addr_raw: DataFrame) -> DataFrame:
    """Stage 1 (btcolap.sql:1-15): one row per (wallet, address). The
    reference keeps `row_number() = 1` over the full key; rows in a
    dup group are identical, so a distinct is the same set, and it
    plans as a partial (map-side) hash aggregate instead of a sort."""
    return addr_raw.dropDuplicates(["wallet", "address"])


def _signed_flows(tx: DataFrame, side: str) -> DataFrame:
    """Two-level lateral unnest of one side (btcolap.sql:109-111 shape)
    to flow rows (block_timestamp, txid, type, addr, sat); inputs are
    negative (btcolap.sql:331), outputs positive (:346)."""
    value = F.col("txo.value")
    return (
        tx.select(
            "block_timestamp",
            F.col("hash").alias("txid"),
            F.explode(side).alias("txo"),
        )
        .select(
            "block_timestamp",
            "txid",
            F.lit(side[:-1]).alias("type"),  # "input" / "output"
            F.explode("txo.addresses").alias("addr"),
            (-value if side == "inputs" else value).alias("sat"),
        )
    )


def ledger_pipeline(
    tx: DataFrame, addr_raw: DataFrame, wloc: DataFrame
) -> DataFrame:
    """Stages 1-6 as one lazy DAG; no Spark job runs until the caller
    acts. Returns the located ledger:
    (block_timestamp, txid, type, addr, sat, wallet, location, period).

    Stages 2-4 (txid discovery) are subsumed by the address join of
    stage 6: a hash enters `txid_sum` iff one of its exploded rows has
    `addr = address`, and the address join keeps a flow row only when
    that row itself satisfies the same predicate — so every kept row's
    txid is already in `txid_sum`, and the semi join of stage 5 never
    removes a kept row nor changes multiplicity. Catalyst cannot infer
    this, so the chain is written as scan -> explode -> join. The
    DuckDB oracle (`queries.pipeline._E2E_ORACLE`) keeps the full
    6-stage chain, so every parity run re-checks the equivalence.

    Scale shape: `wallet_location` (121 rows in the reference,
    wallet_location2.ndjson) is a genuinely bounded dimension and is
    always broadcast. `addr` (exchange wallet->address mapping) is not
    bounded — exchange address tables reach tens of millions of rows —
    so it carries no hint: the static planner broadcasts it while its
    estimate is under `spark.sql.autoBroadcastJoinThreshold`, and above
    that AQE picks broadcast or shuffle from the measured size
    (`spark.sql.adaptive.autoBroadcastJoinThreshold`)."""
    addr = dedup_addresses(addr_raw)
    # 5. signed flows (btcolap.sql:316-408)
    flows = _signed_flows(tx, "inputs").unionByName(
        _signed_flows(tx, "outputs")
    )
    # 6. wallet + location enrichment (btcolap.sql:412-451); the
    #    pre/post-SAFE table split becomes a period column (SURVEY.md §4)
    return (
        flows.join(addr, flows.addr == addr.address)
        .join(F.broadcast(wloc), "wallet")
        .select(
            "block_timestamp",
            "txid",
            "type",
            flows.addr,
            "sat",
            "wallet",
            "location",
            F.when(
                F.col("block_timestamp") >= F.lit(SPLIT_TS).cast("timestamp"),
                "post",
            )
            .otherwise("pre")
            .alias("period"),
        )
    )


def ledger_daily_rollup(ledger: DataFrame) -> DataFrame:
    """The analytical endpoint over the ledger (btcolap.sql:453-463 /
    btc_logregression_pre.py:14-26 shape): daily flow by location,
    period, and side. Satoshi sums stay BIGINT (exact, associative);
    BTC conversion is one final double divide."""
    return (
        ledger.groupBy(
            F.date_trunc("day", "block_timestamp").alias("day"),
            "location",
            "period",
            "type",
        )
        .agg(
            (F.sum("sat").cast("double") / F.lit(100000000.0)).alias(
                "flow_btc"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
