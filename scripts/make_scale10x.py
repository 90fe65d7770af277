#!/usr/bin/env python
"""Synthesize a ~sf1 dataset by replicating the sf0.1 tables REP times
with key remapping — the local[32] stand-in for a 10× scale-up run of
the whole headline query set (SCALE.md, "Full-suite 10× rehearsal").

Replication is NOT naive file copying: copying the same parquet 10×
duplicates every key, which fans joins out quadratically (each customer
key matches 10 copies of each of its orders → 100× pairs, not 10×) and
turns every document into a 10-way exact duplicate (inflating the
pair-emitting dedup outputs ~45× instead of 10×). Instead each replica
offsets every entity key by ``replica * (max_key + 1)`` (foreign keys
consistently, so per-replica join cardinality matches the original) and
deterministically perturbs document text with a per-replica vowel
permutation (``translate``), so each replica keeps the fixture's
INTERNAL near-duplicate structure without becoming a cross-replica
duplicate of the others. nation/region stay fixed (TPC-H dimensions do
not scale with SF); embeddings keep their vectors (ANN cost is
scan+rank; identical vectors across replicas don't change the work per
row).

Usage: python scripts/make_scale10x.py [out_dir] [replicas]
Default out: /dev/shm/sparkgraft-sf1.0 (the sf1 dir scale_sweep.py and
certify.py read by default). DuckDB does the rewrite — no Spark session
needed.
"""

from __future__ import annotations

import os
import shutil
import sys

SRC = "/root/testdata/sf0.1"

# per-replica vowel permutations: replica 0 is the identity so the
# original corpus is a strict subset; the rest shuffle which vowel maps
# where, changing most shingles/hashes while preserving token counts,
# lengths, and the internal duplicate structure
VOWELS = "aeiou"
PERMS = [
    "aeiou", "eioua", "iouae", "ouaei", "uaeio",
    "aeuio", "eiaou", "iueoa", "oaiue", "uoiea",
]

# (table, [entity key cols], [(fk col, parent table)]) — offsets are
# consistent within a replica so join fan-out per key is unchanged
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# key spaces shared across tables (fk -> pk) must use the SAME modulus
KEYSPACE = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sparkgraft-sf1.0"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    if reps > len(PERMS):
        raise SystemExit(f"at most {len(PERMS)} replicas (vowel perms)")
    import duckdb

    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    con = duckdb.connect()

    # moduli: one per base key column, from the parent table for FKs
    mod: dict[str, int] = {}
    for t, keys in KEYED.items():
        for k in keys:
            src_t, src_k = KEYSPACE.get(k, (t, k))
            mkey = f"{src_t}.{src_k}"
            if mkey not in mod:
                (mx,) = con.sql(
                    f"SELECT max({src_k}) FROM '{SRC}/{src_t}.parquet'"
                ).fetchone()
                mod[mkey] = int(mx) + 1
    for t in ("nation", "region"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")

    for t, keys in KEYED.items():
        selects = []
        for r in range(reps):
            cols = []
            desc = con.sql(f"describe select * from '{SRC}/{t}.parquet'")
            for name, _typ in [(row[0], row[1]) for row in desc.fetchall()]:
                if name in keys:
                    src_t, src_k = KEYSPACE.get(name, (t, name))
                    m = mod[f"{src_t}.{src_k}"]
                    cols.append(f"({name} + {r * m}) AS {name}")
                elif t == "documents" and name == "text" and r > 0:
                    cols.append(
                        f"translate(text, '{VOWELS}', '{PERMS[r]}') AS text"
                    )
                elif t == "embeddings" and name == "embedding" and r > 0:
                    # deterministic per-replica perturbation: without it
                    # every vector has 9 exact copies, which inflates
                    # LSH-bucket occupancy ~10x beyond what 10x of REAL
                    # data would produce (real corpora add new points,
                    # not exact clones)
                    cols.append(
                        "list_transform(embedding, x -> CAST(x + "
                        f"{r} * 0.013 AS FLOAT)) AS embedding"
                    )
                else:
                    cols.append(name)
            selects.append(
                f"SELECT {', '.join(cols)} FROM '{SRC}/{t}.parquet'"
            )
        union = "\nUNION ALL\n".join(selects)
        con.sql(
            f"COPY ({union}) TO '{out}/{t}.parquet' (FORMAT parquet)"
        )
        (n,) = con.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()
        print(f"{t}: {n} rows")
    print(f"wrote {out} ({reps} replicas)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
