"""DuckDB oracle check for query_mix: each query's Spark result must equal
its `SparkEntry.oracleSql` run by DuckDB over the same generated tables,
after sorting columns by name and rows by every column (the comparison
`scripts/selfcheck.py` makes), compared by a hash of the canonical rows."""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _digest(df):
    df = df[sorted(df.columns)]
    key = df.astype(str)
    key = key.sort_values(by=list(key.columns)).reset_index(drop=True)
    h = hashlib.sha256("|".join(key.columns).encode())
    for row in key.itertuples(index=False):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest(), len(df)


def check(tables_dir, results_dir):
    """{query: None if it matches, else the reason}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    with open(f"{results_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        path = f"{results_dir}/{name}"
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        if not os.path.isdir(path):
            out[name] = "no result (the query threw)"
            continue
        try:
            got = _digest(con.execute(
                f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
            want = _digest(con.execute(sql).df())
        except Exception as e:  # an unreadable result is a failed check
            out[name] = f"oracle error: {e}"
            continue
        out[name] = None if got == want else \
            f"hash mismatch ({got[1]} rows vs oracle {want[1]})"
    return out
