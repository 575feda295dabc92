"""The ``etl_load`` workload: seeded daily batches loaded through the
repository layer by a ``plans.dag.Pipeline`` per day, and a DuckDB replay
of the same batches that gives the expected final tables.

Generation (``make_batches``) uses only NumPy and PyArrow, so the program
receives nothing but the parquet files it writes.  Each day directory is
laid out like a fixture directory (``orders.parquet``, ``customer.parquet``,
``events.parquet``) and is extracted with ``catalog.table``.

Load steps per day, each one timed op:

* ``merge_upsert`` of an orders batch (existing keys rewritten, new keys
  inserted) into a managed table partitioned on ``o_orderstatus``;
* ``scd2_merge`` of a customer batch (changed, unchanged and new keys);
* ``append_load`` of the day's events into an append-only table;
* ``overwrite_partitions`` of daily event facts for the day and the day
  before (late events re-aggregate yesterday's partition);
* a ``read_table`` read-back of the orders table.

Before the days: ``create_table`` and ``create_scd2_table``; after them:
``compact_table`` and ``vacuum`` of the orders table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAYS = 2
ORDERS_UPDATED = 200   # existing keys rewritten per day
ORDERS_NEW = 100       # new keys per day
CUSTOMERS_CHANGED = 60
CUSTOMERS_SAME = 10    # re-sent unchanged: SCD-2 must leave them alone
CUSTOMERS_NEW = 20
EVENTS_PER_DAY = 1200
LATE_SHARE = 0.1       # events of the previous day arriving late

# rows of one day's batch, per load step that consumes it
BATCH_ROWS = {
    "merge": ORDERS_UPDATED + ORDERS_NEW,
    "scd2": CUSTOMERS_CHANGED + CUSTOMERS_SAME + CUSTOMERS_NEW,
    "append": EVENTS_PER_DAY,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
_BASE_DAY = np.datetime64("2024-02-01T00:00:00", "us")


def effective_ts(day: int) -> str:
    """SCD-2 effective timestamp of ``day`` (day -1 is the initial load)."""
    return str((_BASE_DAY + np.timedelta64(day, "D")).astype("datetime64[s]")).replace(
        "T", " "
    )


def day_key(day: int) -> int:
    """Partition value (yyyymmdd) of the facts table for ``day``."""
    d = (_BASE_DAY + np.timedelta64(day, "D")).astype("datetime64[D]")
    return int(str(d).replace("-", ""))


def make_batches(fixture_dir: str, out_dir: str, seed: int) -> list[str]:
    """Write ``DAYS`` day directories under ``out_dir``; returns them.
    The same ``seed`` writes the same rows."""
    rng = np.random.default_rng(seed)
    orders = pq.read_table(os.path.join(fixture_dir, "orders.parquet"))
    customer = pq.read_table(os.path.join(fixture_dir, "customer.parquet"))
    n_orders = orders.num_rows
    n_cust = customer.num_rows
    # keys re-sent unchanged are never changed, so their fixture values
    # stay the current ones on every day
    same_keys = rng.choice(n_cust, CUSTOMERS_SAME, replace=False)
    changeable = np.setdiff1d(np.arange(n_cust), same_keys)
    cust_idx = {k: i for i, k in enumerate(customer.column("c_custkey").to_pylist())}
    dirs = []
    for day in range(DAYS):
        d = os.path.join(out_dir, f"day_{day:02d}")
        os.makedirs(d, exist_ok=True)
        old = rng.choice(n_orders, ORDERS_UPDATED, replace=False)
        new = n_orders + day * ORDERS_NEW + np.arange(ORDERS_NEW)
        keys = np.concatenate([old, new]).astype(np.int64)
        n = len(keys)
        dates = np.datetime64("1995-01-01", "D") + rng.integers(0, 2400, n)
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array(keys, pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
                    "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
                    "o_totalprice": pa.array(
                        np.round(rng.uniform(900.0, 500000.0, n), 2)
                    ),
                    "o_orderdate": pa.array(dates.astype("datetime64[us]")),
                    "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
                }
            ),
            os.path.join(d, "orders.parquet"),
        )
        changed = rng.choice(changeable, CUSTOMERS_CHANGED, replace=False)
        new_c = n_cust + day * CUSTOMERS_NEW + np.arange(CUSTOMERS_NEW)
        c_keys = np.concatenate([changed, new_c]).astype(np.int64)
        m = len(c_keys)
        same = customer.take(pa.array([cust_idx[int(k)] for k in same_keys]))
        fresh = pa.table(
            {
                "c_custkey": pa.array(c_keys, pa.int64()),
                "c_name": pa.array([f"Customer#{k:09d}" for k in c_keys]),
                "c_nationkey": pa.array(rng.integers(0, 25, m), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, m), 2)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, m)),
            }
        )
        pq.write_table(
            pa.concat_tables([fresh, same.select(fresh.column_names).cast(fresh.schema)]),
            os.path.join(d, "customer.parquet"),
        )
        k = EVENTS_PER_DAY
        late = rng.random(k) < (LATE_SHARE if day > 0 else 0.0)
        offset_us = rng.integers(0, 86_400_000_000, k)
        ts = (
            _BASE_DAY
            + np.timedelta64(day, "D")
            - late.astype(np.int64) * np.timedelta64(1, "D")
            + offset_us.astype("timedelta64[us]")
        )
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(
                        1_000_000 + day * EVENTS_PER_DAY + np.arange(k), pa.int64()
                    ),
                    "ts": pa.array(ts.astype("datetime64[us]")),
                    "user_id": pa.array(rng.integers(0, 150, k), pa.int64()),
                    "event_type": pa.array(rng.choice(_EVENT_TYPES, k)),
                    "value": pa.array(np.round(rng.uniform(0.0, 200.0, k), 2)),
                    "props": pa.array(
                        [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]
                    ),
                }
            ),
            os.path.join(d, "events.parquet"),
        )
        dirs.append(d)
    return dirs


def batch_bytes(day_dir: str, table: str) -> int:
    return os.path.getsize(os.path.join(day_dir, f"{table}.parquet"))


def replay_expected(con, fixture_dir: str, day_dirs: list[str]) -> dict[str, str]:
    """Apply the batches with DuckDB; returns the SQL of each expected
    final table (orders, customer SCD-2, events, facts) over ``con``."""
    con.execute(
        f"CREATE TABLE e_orders AS SELECT * FROM read_parquet('{fixture_dir}/orders.parquet')"
    )
    con.execute(
        "CREATE TABLE e_customer AS SELECT *,"
        f" TIMESTAMP '{effective_ts(-1)}' AS valid_from,"
        " CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current"
        f" FROM read_parquet('{fixture_dir}/customer.parquet')"
    )
    con.execute(
        "CREATE TABLE e_events AS SELECT * FROM read_parquet(?) LIMIT 0",
        [os.path.join(day_dirs[0], "events.parquet")],
    )
    attrs = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    differs = " OR ".join(f"c.{a} IS DISTINCT FROM b.{a}" for a in attrs)
    for day, d in enumerate(day_dirs):
        eff = effective_ts(day)
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW b_orders AS SELECT * FROM read_parquet('{d}/orders.parquet')"
        )
        con.execute(
            "DELETE FROM e_orders WHERE o_orderkey IN (SELECT o_orderkey FROM b_orders)"
        )
        con.execute("INSERT INTO e_orders SELECT * FROM b_orders")
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE b_cust AS SELECT * FROM read_parquet('{d}/customer.parquet')"
        )
        con.execute(
            "CREATE OR REPLACE TEMP TABLE b_fresh AS SELECT b.* FROM b_cust b"
            " LEFT JOIN e_customer c ON c.is_current AND c.c_custkey = b.c_custkey"
            f" WHERE c.c_custkey IS NULL OR {differs}"
        )
        con.execute(
            f"UPDATE e_customer SET valid_to = TIMESTAMP '{eff}', is_current = FALSE"
            " WHERE is_current AND c_custkey IN (SELECT c_custkey FROM b_fresh)"
        )
        con.execute(
            f"INSERT INTO e_customer SELECT *, TIMESTAMP '{eff}', NULL, TRUE FROM b_fresh"
        )
        con.execute(
            f"INSERT INTO e_events SELECT * FROM read_parquet('{d}/events.parquet')"
        )
    return {
        "orders": "SELECT * FROM e_orders",
        "customer": "SELECT * FROM e_customer",
        "events": "SELECT * FROM e_events",
        # daily facts in integer cents, so both engines sum exactly
        "facts": (
            "SELECT event_type, CAST(strftime(ts, '%Y%m%d') AS INT) AS day,"
            " COUNT(*) AS n_events,"
            " CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents"
            " FROM e_events GROUP BY ALL"
        ),
    }
