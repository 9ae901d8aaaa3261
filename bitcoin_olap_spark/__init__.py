"""bitcoin_olap_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the reference pipeline romdata404/Bitcoin-OLAP
(BigQuery SQL -> parquet -> DuckDB -> pandas; see SURVEY.md), expressed
idiomatically on the Spark DataFrame/SQL stack so Catalyst + Tungsten
choose the physical strategy.

Layout:
- session.py    SparkSession factory (AQE, Arrow, UTC) + runtime tuning
- catalog.py    testdata table loaders (schema read from a parquet footer)
- registry.py   query registry: every operator from SURVEY.md §2 is a
                (PySpark callable, DuckDB oracle SQL) pair
- operators/    reusable composable operators (dedup, multimodal, skew,
                temporal, text, vectors)
- queries/      registered per-operator queries (driver contract)
- plans/        end-to-end pipeline parity (ledger build) + fixtures
- streaming/    Structured Streaming ingestion + windows + stateful ops
                (reference README.md:3 future direction)
- ml/           log-log OLS tail (reference btc_logregression_pre.py:80-86)
"""

__version__ = "0.1.0"
