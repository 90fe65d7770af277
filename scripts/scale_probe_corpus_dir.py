#!/usr/bin/env python
"""Small-files probe for the raw-corpus directory source (SCALE.md row).

Generates N tiny text files sharded into subdirectories (the layout the
SCALE.md row prescribes for the millions-of-files regime), then times
the two halves of the ingest contract separately:

1. the LISTING + wholetext scan (``load_corpus_dir`` → count), and
2. the one-pass land to parquet (the step after which every query runs
   columnar).

Also verifies the packing claim: N non-splittable files must NOT mean
N tasks (Spark bins them by maxPartitionBytes/openCostInBytes).

Usage: python scripts/scale_probe_corpus_dir.py [n_files] [n_dirs]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
N_DIRS = int(sys.argv[2]) if len(sys.argv) > 2 else 64
ROOT = "/dev/shm/sparkgraft-rawdir"


def main() -> int:
    if os.path.exists(ROOT):
        shutil.rmtree(ROOT)
    t0 = time.perf_counter()
    for d in range(N_DIRS):
        os.makedirs(f"{ROOT}/shard={d:03d}")
    for i in range(N_FILES):
        with open(
            f"{ROOT}/shard={i % N_DIRS:03d}/doc{i:06d}.txt", "w"
        ) as f:
            f.write(
                f"document {i} body word{i % 97} word{i % 89} "
                f"word{i % 83}\nsecond line {i}\n"
            )
    print(f"generated {N_FILES} files / {N_DIRS} dirs "
          f"[{time.perf_counter()-t0:.1f}s]")

    from pyspark.sql import SparkSession

    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_corpus_dir

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    corpus = load_corpus_dir(spark, f"{ROOT}/*/")
    n = corpus.count()
    t_scan = time.perf_counter() - t0
    assert n == N_FILES, (n, N_FILES)
    n_parts = corpus.rdd.getNumPartitions()
    print(f"list+wholetext scan: {n} docs in {t_scan:.1f}s, "
          f"{n_parts} partitions (packing: {N_FILES} files != tasks)")

    out = f"{ROOT}-parquet"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    # land COMPACTED: the wholetext scan's partition count is inflated by
    # openCostInBytes (4 MiB of assumed open cost per tiny file — 625
    # partitions here), which is right for scan parallelism but wrong as
    # an output layout; repartition to a real file budget
    corpus.repartition(32).write.parquet(out)
    t_land = time.perf_counter() - t0
    t0 = time.perf_counter()
    n2 = spark.read.parquet(out).count()
    t_pq = time.perf_counter() - t0
    assert n2 == N_FILES
    n_pq_files = sum(
        1 for f in os.listdir(out) if f.endswith(".parquet")
    )
    print(f"land to parquet: {t_land:.1f}s ({n_pq_files} files); "
          f"columnar re-count: {t_pq:.2f}s "
          f"({t_scan/max(t_pq,0.01):.0f}x faster than the raw scan)")
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
