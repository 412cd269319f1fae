#!/usr/bin/env python
"""Driver-style oracle check: run each Spark query and its DuckDB oracle
side-by-side at an SF tier and compare row count, schema (column names),
and an order-insensitive value hash (columns sorted by name, rows sorted,
values stringified). Usage:

    python scripts/check_oracles.py [sf_dir] [query ...]

Defaults: /root/testdata/sf0.01, all queries with an oracle. Exits 1
if any query fails or mismatches its oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(str(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> None:
    import duckdb

    import __spark_entry__ as entrymod
    from address_match_recommend_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    want = sys.argv[2:] or None

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qmap, omap = entrymod.queries(), entrymod.oracle_sql()
    results = {}
    for name, fn in qmap.items():
        if want and name not in want:
            continue
        if name not in omap:
            results[name] = {"err": "no_oracle"}
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.execute(omap[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            res = {
                "rows_match": len(srows) == len(orows),
                "schema_match": sorted(scols) == sorted(ocols),
                "hash_match": value_hash(scols, srows) == value_hash(ocols, orows),
                "spark_rows": len(srows),
                "oracle_rows": len(orows),
            }
        except Exception as exc:  # noqa: BLE001
            res = {"err": f"{type(exc).__name__}: {exc}"[:300]}
        results[name] = res
        print(name, json.dumps(res), flush=True)
    bad = [n for n, r in results.items()
           if r.get("err") or not all(
               r.get(k) for k in ("rows_match", "schema_match", "hash_match"))]
    print("FAILED:" if bad else "ALL OK", bad)
    spark.stop()
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
