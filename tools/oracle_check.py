"""The DuckDB side of the oracle check: every source table as a view over
one scale's parquet files. tools/driver_sim.py runs each query's oracle
SQL on this connection and compares it with Spark's answer.
"""

from __future__ import annotations

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
