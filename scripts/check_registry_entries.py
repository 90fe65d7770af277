#!/usr/bin/env python
"""Spot-check named fine-grained registry entries against their DuckDB
oracles at one or more SF dirs — the per-entry mirror of certify.py's
registry sweep, for fast iteration on a changed entry without the full
sweep.

Usage: python scripts/check_registry_entries.py sf_dir[,sf_dir...] entry [entry ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import TABLES, value_hash  # noqa: E402


def main() -> int:
    import duckdb

    from similarity_search_with_hadoop_mapreduce_spark.registry import (
        ORACLES,
        QUERIES,
    )
    from similarity_search_with_hadoop_mapreduce_spark.session import get_session

    sf_dirs = sys.argv[1].split(",")
    names = sys.argv[2:]
    spark = get_session("check-registry")
    failures = 0
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        for name in names:
            t0 = time.time()
            sdf = QUERIES[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            oracle = ORACLES.get(name)
            if oracle is None:
                print(f"{sf_dir} {name}: rows_only n={len(srows)}")
                continue
            res = con.sql(oracle)
            dcols = list(res.columns)
            drows = [tuple(r) for r in res.fetchall()]
            status = "PASS"
            if sorted(scols) != sorted(dcols):
                status = f"SCHEMA_MISMATCH spark={scols} duck={dcols}"
            elif len(srows) != len(drows):
                status = f"ROWS_MISMATCH spark={len(srows)} duck={len(drows)}"
            else:
                order = [scols.index(c) for c in dcols]
                if value_hash(srows, order) != value_hash(
                    drows, list(range(len(dcols)))
                ):
                    status = "HASH_MISMATCH"
            if status != "PASS":
                failures += 1
            print(
                f"{sf_dir} {name}: {status} n={len(srows)} "
                f"({time.time() - t0:.1f}s)"
            )
        con.close()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
