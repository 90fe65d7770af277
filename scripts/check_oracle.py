#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
against the same parquet tables, then compares row count, column names,
and an order-insensitive value hash. Use while iterating so oracle
mismatches are caught before the driver's round gate.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact-bits compare for doubles, like a strict driver would
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()  # distinct from datetime on purpose: type drift should fail
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows: list[tuple], col_order: list[int]) -> str:
    lines = sorted("\x1f".join(_canon(r[i]) for i in col_order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per parquet table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(scols, srows, dcols, drows) -> list[str]:
    """The gate's verdict on a Spark result against its DuckDB oracle:
    empty when column names (in any order), row count and the
    order-insensitive value hash all agree, else the problems found."""
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns spark={scols} duckdb={dcols}")
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
    if not problems:
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        hs, hd = value_hash(srows, order), value_hash(drows, dorder)
        if hs != hd:
            problems.append("value-hash mismatch")
            ss = sorted("\x1f".join(_canon(r[i]) for i in order) for r in srows)
            dd = sorted("\x1f".join(_canon(r[i]) for i in dorder) for r in drows)
            diffs = [(a, b) for a, b in zip(ss, dd) if a != b][:3]
            for a, b in diffs:
                problems.append(f"  spark : {a[:200]}")
                problems.append(f"  duckdb: {b[:200]}")
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--all"]
    use_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from __spark_entry__ import oracle_sql, queries
    from similarity_search_with_hadoop_mapreduce_spark.session import get_session

    spark = get_session("oracle-check")
    con = duckdb_views(sf_dir)

    if use_all:  # full fine-grained registry instead of the driver surface
        from similarity_search_with_hadoop_mapreduce_spark.registry import (
            ORACLES as orc,
            QUERIES as qs,
        )
    else:
        qs, orc = queries(), oracle_sql()
    failures, n_checked = [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if not use_all:
            # Driver-compat: the driver canonicalizes results through a
            # pandas sort, which throws on ARRAY/MAP/STRUCT columns — a
            # curated entry must expose scalar columns only (project
            # arrays to e.g. concat_ws before curating; the fine-grained
            # registry keeps the typed columns).
            from pyspark.sql.types import ArrayType, MapType, StructType

            bad = [
                f.name
                for f in sdf.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if bad:
                failures.append(
                    (name, f"DRIVER-COMPAT: non-scalar columns {bad}")
                )
                print(f"FAIL {name}: non-scalar columns {bad} would crash "
                      "the driver's pandas canonicalizer")
                continue
        if name not in orc:
            print(f"SKIP {name}: no oracle (rows-only) rows={len(srows)} "
                  f"[{time.time()-t0:.1f}s]")
            n_checked += 1
            continue
        try:
            res = con.sql(orc[name])
            dcols = [c for c in res.columns]
            drows = [tuple(r) for r in res.fetchall()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue

        problems = compare(scols, srows, dcols, drows)
        n_checked += 1
        if problems:
            failures.append((name, "; ".join(problems[:1])))
            print(f"FAIL {name}: " + "\n".join(problems))
        else:
            print(f"OK   {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")

    print(f"\n{n_checked - len(failures)}/{n_checked} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
