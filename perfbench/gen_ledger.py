"""Seeded inputs for the `ledger_ingest` workload.

`base.parquet`: the starting ledger (`row_id, addr, ts, sat`), ~200k rows
over 60 days of chain time, written in ts order with 8 row groups so the
initial table's files cover disjoint ts ranges.

The op log, one entry per writer tick, simulated here against the
ledger's full state so every op is valid when it runs:

- every tick appends a batch (`tick_NNNN.parquet`) of new rows covering
  the next hour of chain time;
- every 5th tick (from tick 1) merges corrections
  (`upsert_NNNN.parquet`) into rows of the last five batches that are
  still live (a re-org rewrites values);
- every 8th tick (from tick 2) deletes dust (`sat < DUST_SAT`) from the
  last eight batches' time range (the maintenance delete of
  btcolap.sql:1-15);
- every 20th tick (from tick 3) compacts the table.

The phases put one op of each kind into the first four ticks, so even
a short run exercises the whole write path.

`oplog.json` lists the ops in tick order; the oracle replays them in
DuckDB.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = 200_000
BATCH_ROWS = 5_000
UPSERT_ROWS = 1_000
N_ADDR = 2_000
BASE_DAYS = 60
BATCH_SPAN_US = 3_600 * 1_000_000
DUST_SAT = 2_000
UPSERT_EVERY, DELETE_EVERY, OPTIMIZE_EVERY = 5, 8, 20
UPSERT_PHASE, DELETE_PHASE, OPTIMIZE_PHASE = 1, 2, 3
T0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)

SCHEMA = pa.schema(
    [
        ("row_id", pa.int64()),
        ("addr", pa.string()),
        ("ts", pa.timestamp("us")),
        ("sat", pa.int64()),
    ]
)


def _rows(rng, first_id: int, n: int, t_lo: int, t_hi: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "row_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "addr": np.char.add("a", rng.integers(0, N_ADDR, n).astype(str)).astype(object),
            "ts": np.sort(rng.integers(t_lo, t_hi, n)),
            "sat": _sat(rng, n),
        }
    )


def _sat(rng, n: int) -> np.ndarray:
    # heavy-tailed amounts; ~1% fall under DUST_SAT
    return np.maximum(1, rng.lognormal(11.5, 2.0, n)).astype(np.int64)


def _write(df: pd.DataFrame, path: str, row_group_size: int | None = None) -> None:
    t = pa.Table.from_pandas(
        df.assign(ts=pd.to_datetime(df["ts"], unit="us")), schema=SCHEMA,
        preserve_index=False,
    )
    pq.write_table(t, path, row_group_size=row_group_size)


def write(seed: int, out_dir: str, ticks: int) -> dict:
    """Write base.parquet, the tick files and oplog.json; returns sizes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 11]))
    t_end = T0 + BASE_DAYS * 86_400 * 1_000_000
    live = _rows(rng, 0, BASE_ROWS, T0, t_end)
    _write(live, os.path.join(out_dir, "base.parquet"), BASE_ROWS // 8)
    next_id = BASE_ROWS
    batch_ids: list[np.ndarray] = []
    ops: list[dict] = []
    user_rows = 0
    for i in range(ticks):
        lo = t_end + i * BATCH_SPAN_US
        batch = _rows(rng, next_id, BATCH_ROWS, lo, lo + BATCH_SPAN_US)
        next_id += BATCH_ROWS
        path = f"tick_{i:04d}.parquet"
        _write(batch, os.path.join(out_dir, path))
        live = pd.concat([live, batch], ignore_index=True)
        batch_ids.append(batch["row_id"].to_numpy())
        ops.append({"tick": i, "kind": "append", "file": path})
        user_rows += BATCH_ROWS
        if i % UPSERT_EVERY == UPSERT_PHASE:
            recent = np.concatenate(batch_ids[-UPSERT_EVERY:])
            cand = live[live["row_id"].isin(recent)]
            pick = cand.iloc[
                np.sort(rng.choice(len(cand), min(UPSERT_ROWS, len(cand)), replace=False))
            ].copy()
            pick["sat"] = _sat(rng, len(pick))
            path = f"upsert_{i:04d}.parquet"
            _write(pick, os.path.join(out_dir, path))
            live = live.set_index("row_id")
            live.loc[pick["row_id"].to_numpy(), "sat"] = pick["sat"].to_numpy()
            live = live.reset_index()
            ops.append({"tick": i, "kind": "merge", "file": path})
            user_rows += len(pick)
        if i % DELETE_EVERY == DELETE_PHASE:
            ts_ge = int(t_end + max(0, i + 1 - DELETE_EVERY) * BATCH_SPAN_US)
            live = live[~((live["sat"] < DUST_SAT) & (live["ts"] >= ts_ge))]
            ops.append({"tick": i, "kind": "delete", "sat_lt": DUST_SAT, "ts_ge_us": ts_ge})
        if i % OPTIMIZE_EVERY == OPTIMIZE_PHASE:
            ops.append({"tick": i, "kind": "optimize"})
    with open(os.path.join(out_dir, "oplog.json"), "w") as f:
        json.dump(ops, f)
    return {
        "base_rows": BASE_ROWS,
        "batch_rows": BATCH_ROWS,
        "ticks": ticks,
        "user_rows_max": user_rows,
        "t_first_us": int(T0),
        "t_last_us": int(t_end + ticks * BATCH_SPAN_US),
    }

