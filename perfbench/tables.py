"""Seeded input table for the event analytics workload.

The table has the schema of the engine's standard synthetic `events` input,
so every registered `ev_*` query and its DuckDB oracle SQL run on it
unchanged: 100,000 rows over 30 days of 2024, ~1,500 users, five event
types, exponential values rounded to cents, `{"k": n}` JSON props;
`event_id` follows time order.
"""
import duckdb
import numpy as np
import pandas as pd

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def events(seed, n=100_000):
    r = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 24 * 3600 * 1_000_000, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": r.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n)],
    })


CASTS = ("event_id::BIGINT AS event_id, ts::TIMESTAMP AS ts, user_id::BIGINT AS user_id, "
         "event_type, value::DOUBLE AS value, props")


def write_events(df, out_dir):
    con = duckdb.connect()
    con.register("t", df)
    con.execute(f"COPY (SELECT {CASTS} FROM t) TO '{out_dir}/events.parquet' (FORMAT PARQUET)")
    con.close()
