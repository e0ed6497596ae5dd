#!/usr/bin/env python
"""Local replica of the round driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the oracle on DuckDB over the same parquet
tables; compares row count, schema (column names), and an
order-insensitive value hash. Exits nonzero on any mismatch.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

# the checkout this script sits in, so a second checkout checks its own engine
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for l in lines:
        h.update(l.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    # data-dependent lazy oracles (Python reference implementations) read
    # the same sf dir the Spark side runs against
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    import __spark_entry__ as entrymod
    from gdal_spark.session import get_spark

    spark = get_spark("check_correctness", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok*   {name}: rows={len(rows)} (rows-only, no oracle) [{el:.1f}s]")
            if len(rows) == 0 and name not in ("dedup_simhash",):
                print(f"      WARNING: zero rows from {name}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} != {sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(rows, cols), value_hash(orows, ocols)
            if hs != ho:
                problems.append(f"value hash {hs} != {ho}")
                # show first differing rows for debug
                ss = sorted(map(str, rows))
                oo = sorted(map(str, orows))
                for a, b in zip(ss, oo):
                    if a != b:
                        problems.append(f"first diff: spark={a} oracle={b}")
                        break
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: rows={len(rows)} hash match [{el:.1f}s]")

    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, p in failures:
            print(f"  {n}: {p}")
        sys.exit(1)
    print(f"all {len([n for n in qs if not only or n in only])} queries passed")


if __name__ == "__main__":
    main()
