#!/usr/bin/env python
"""Stored-index probe bloom gate (r12 — the membership sketch's second
in-pipeline consumer): measure what ``bloom_gate=True`` buys
``incremental_dedup_probe`` as the stored index grows.

The claim under test: the ungated probe's per-epoch JOIN cost grows
with INDEX size (every epoch re-sorts/re-hashes the whole stored
digest and band tables behind the bucketed scans), while the gated
probe's join cost stays BATCH-bound — the batch-built bitmaps
broadcast to the stored scans and only might-match stored rows reach
the joins. The same 500-doc batch probes a 5k-doc index (sf0.1
documents), a 50k-doc index (the 10x dir), and a 500k-doc index (10
suffix-perturbed replicas of the 10x documents), recording per plan:
min-of-3 warm wall, executor task cpu at the min-wall iteration (the
honest signal on a machine where every wall is scheduling-floor-bound),
and the gate's survivor counts — stored rows passing the bitmap test
(what the gated joins sort) vs stored rows total (what the ungated
joins sort).

Honest accounting: the gate pays a FIXED overhead per epoch (two
bloom-build jobs over the batch + the m/63-long broadcast + the
map-side bit test over the stored scan), so at small index sizes the
gated wall is WORSE — the dial is an at-scale dial, and this probe's
deliverable is the cpu-vs-index-size trend plus the survivor collapse,
not a local wall win.

Writes scale_probe_bloom_gate.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
BIG = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/sparkgraft-sf1.0"
M_BITS = 1 << 20


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators import dedup as D
    from similarity_search_with_hadoop_mapreduce_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.locality.wait", "0")
        .config("spark.scheduler.revive.interval", "1ms")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/dev/shm/bloomgate-wh")
        .getOrCreate()
    )
    sc = spark.sparkContext

    def total_task_ms() -> int:
        # cumulative executorRunTime over all stages (the round bench's
        # protocol, BASELINE.md)
        store = sc._jsc.sc().statusStore()
        seq = store.stageList(
            sc._jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        it = seq.iterator()
        total = 0
        while it.hasNext():
            total += it.next().executorRunTime()
        return total

    out: dict = {"artifact": "scale_probe_bloom_gate", "m_bits": M_BITS,
                 "batch_docs": 500, "runs": {}}

    def batch_from(docs):
        # 250 exact dups of corpus docs + 250 novel rows — a realistic
        # mixed epoch; deterministic (keyed off doc_id, no randomness)
        dups = (
            docs.filter(F.col("doc_id") % 20 == 0)
            .orderBy("doc_id").limit(250)
            .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        )
        novel = (
            docs.filter(F.col("doc_id") % 20 == 1)
            .orderBy("doc_id").limit(250)
            .select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"),
                F.concat(F.lit("entirely novel preamble "),
                         F.reverse("text")).alias("text"),
            )
        )
        return dups.unionByName(novel).localCheckpoint(eager=True)

    def corpora():
        if os.path.isdir(SMALL):
            yield "index_5k", spark.read.parquet(f"{SMALL}/documents.parquet")
        if os.path.isdir(BIG):
            big = spark.read.parquet(f"{BIG}/documents.parquet")
            yield "index_50k", big
            # 500k: 10 replicas, ids offset, text suffix-perturbed so
            # digests/shingles differ across replicas (no naive-copy
            # cross-replica duplicate blowup — make_scale10x's rule)
            reps = [
                big.select(
                    (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
                    F.concat("text", F.lit(f" replica token {i}")).alias(
                        "text"),
                )
                for i in range(10)
            ]
            u = reps[0]
            for r in reps[1:]:
                u = u.unionByName(r)
            yield "index_500k", u

    for label, docs in corpora():
        prefix = f"bg_probe_{label}"
        t0 = time.time()
        D.build_dedup_index(docs, prefix=prefix, n_buckets=16)
        build_s = round(time.time() - t0, 2)
        batch = batch_from(docs)
        rec: dict = {"corpus_docs": docs.count(), "index_build_s": build_s}
        # two join regimes per plan: broadcast ON models a small epoch
        # (Spark broadcast-hash-joins the batch — the stored side
        # already streams map-side, the gate is redundant there);
        # broadcast OFF models the at-scale epoch too large for a hash
        # -table broadcast (SMJ sorts the stored side every epoch —
        # the regime the bitmap, 40x smaller than a hash table per
        # key, exists to rescue; the explicit 1-row bloom broadcast is
        # unaffected by the threshold)
        for bcast, suffix in ((None, ""), ("-1", "_smj")):
            if bcast is not None:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
            try:
                for gate in (False, True):
                    tag = ("gated" if gate else "ungated") + suffix
                    df = D.incremental_dedup_probe(
                        spark, batch, prefix=prefix, bloom_gate=gate,
                        bloom_m_bits=M_BITS,
                    )
                    df.write.format("noop").mode("overwrite").save()  # warmup
                    walls, cpus = [], []
                    n_rows = None
                    for _ in range(3):
                        c0 = total_task_ms()
                        t0 = time.time()
                        n_rows = df.count()
                        walls.append(time.time() - t0)
                        cpus.append(total_task_ms() - c0)
                    i = min(range(3), key=lambda j: walls[j])
                    rec[f"{tag}_wall_s"] = round(walls[i], 3)
                    rec[f"{tag}_task_cpu_s"] = round(cpus[i] / 1000.0, 3)
                    rec[f"{tag}_probe_rows"] = n_rows
            finally:
                if bcast is not None:
                    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # the volume the gate removes from the joins
        i_dig = batch.select(F.md5("text").alias("digest"))
        i_band = D._banded_shingles(batch, k=16, bands=4)
        for tbl, col, probe_src in (
            (f"{prefix}_digest", "digest", i_dig),
            (f"{prefix}_bands", "bh", i_band),
        ):
            stored = spark.table(tbl)
            bl = bloom_build(probe_src, col, m_bits=M_BITS, with_count=False)
            surv = bloom_probe(stored, bl, col, m_bits=M_BITS).filter(
                "bloom_hit").count()
            rec[f"{col}_stored_rows"] = stored.count()
            rec[f"{col}_gate_survivors"] = surv
        out["runs"][label] = rec
        print(label, json.dumps(rec), flush=True)
        batch.unpersist()
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_digest")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scale_probe_bloom_gate.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
