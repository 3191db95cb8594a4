"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND the matching
``oracle_sql()`` on DuckDB, compares row count, column names, and an
order-insensitive value comparison (sorted rows). Usage:

    python tools/check_oracle.py [--bits] [query ...]

``--bits`` compares raw float64 bits (the driver hashes raw values;
the default 6dp rounding is looser than the real gate).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


RAW_BITS = False  # --bits: compare raw float64 bits like the driver's hash


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if RAW_BITS:
            import struct

            return struct.pack("<d", v).hex()
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def compare(name, spark_df, con, sql) -> str:
    spark_rows = [tuple(norm_cell(c) for c in row) for row in spark_df.collect()]
    spark_cols = [c.lower() for c in spark_df.columns]
    duck = con.sql(sql)
    duck_cols = [c.lower() for c in duck.columns]
    duck_rows = [tuple(norm_cell(c) for c in row) for row in duck.fetchall()]

    if spark_cols != duck_cols:
        # driver sorts columns by name before hashing; emulate
        if sorted(spark_cols) != sorted(duck_cols):
            return f"SCHEMA MISMATCH spark={spark_cols} duck={duck_cols}"
        sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
        didx = [duck_cols.index(c) for c in sorted(duck_cols)]
        spark_rows = [tuple(r[i] for i in sidx) for r in spark_rows]
        duck_rows = [tuple(r[i] for i in didx) for r in duck_rows]

    if len(spark_rows) != len(duck_rows):
        return f"ROWCOUNT MISMATCH spark={len(spark_rows)} duck={len(duck_rows)}"

    key = lambda r: tuple((x is None, str(type(x)), x) for x in r)
    s_sorted = sorted(spark_rows, key=key)
    d_sorted = sorted(duck_rows, key=key)
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        if a != b:
            return f"VALUE MISMATCH at sorted row {i}: spark={a} duck={b}"
    return "OK"


def main():
    import __spark_entry__ as E
    from pliers_spark.session import get_spark

    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    args = [a for a in sys.argv[1:] if a != "--bits"]
    global RAW_BITS
    RAW_BITS = "--bits" in sys.argv[1:]
    only = set(args)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            if name not in oracles:
                n = df.count()
                print(f"{name:28s} ROWS-ONLY n={n}")
                continue
            verdict = compare(name, df, con, oracles[name])
        except Exception as e:
            verdict = f"ERROR {type(e).__name__}: {e}"
        status = "PASS" if verdict == "OK" else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name:28s} {status}  {verdict if verdict != 'OK' else ''}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
