#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query: a query is identical when
the md5 of its sorted rows (columns in name order) is the same in both.
Prints the count of identical queries and the names of any that differ.

usage: python3 tools/same_outputs.py <dirA> <dirB>"""
import duckdb, os, sys

a, b = sys.argv[1], sys.argv[2]
con = duckdb.connect()


def digest(d, q):
    src = f"read_parquet('{d}/{q}/*.parquet')"
    cols = sorted(r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
    row = "[" + ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols) + "]::VARCHAR"
    return con.sql(f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
                   f"FROM (SELECT {row} AS r FROM {src})").fetchone()


queries = sorted(q for q in os.listdir(a) if os.path.isdir(f"{a}/{q}"))
differ = [q for q in queries
          if not os.path.isdir(f"{b}/{q}") or digest(a, q) != digest(b, q)]
print(f"{len(queries) - len(differ)}/{len(queries)} identical")
for q in differ:
    print(f"DIFFER {q}")
sys.exit(1 if differ else 0)
