#!/usr/bin/env python
"""Scale probe for the closed continuous-curation loop (r4 verdict #4).

The loop's claim is O(epoch) per epoch: the corpus-sized side is hashed
once at index build; each epoch only probes the stored bucketed indexes
and appends its accepted docs back. This probe MEASURES that claim
instead of arguing it: run N sequential epochs of the full
probe -> intra-batch dedup -> accept -> append cycle while the index
grows ~10x, record per-epoch wall, and assert the probe-side plan still
joins the stored tables bucketed (shuffle-free corpus side, no Exchange
re-partitioning the index scans) at the final, largest index.

Expected shape: per-epoch wall stays ~flat (dominated by the fixed
per-job floor plus O(epoch) hashing of the new batch). The stored-side
SCAN does grow linearly with the index — a join must read its build
side — but at a fixed bucket layout that is a sequential columnar read
with no re-shuffle, the part that stays cheap at 100 TB. A superlinear
trend here would mean the probe re-shuffles or re-hashes appends.

Usage: python scripts/scale_probe_curation.py [n_epochs] [epoch_docs]
         [compact_every] [full]
``full`` additionally prices the COMPLETE r6 gate stack per epoch —
rule gates, frozen-LM scoring, stored-profile drift, and frozen-vocab
encoding of the accepted docs (models all built once, pre-loop) — so
the O(epoch) claim is measured with every dial on, not just the dedup
spine.
Prints one JSON line with per-epoch walls and the index row counts.
``compact_every`` > 0 runs compact_dedup_index every N epochs (outside
the timed window) — isolates how much of any wall creep is the
per-append small-file accumulation compaction exists to fix (16 bucket
files x 2 tables per epoch) versus same-JVM aging.
"""

from __future__ import annotations

import json
import re
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    epoch_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    compact_every = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    full_gates = len(sys.argv) > 4 and sys.argv[4] == "full"
    from pyspark.sql import SparkSession, functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        incremental_dedup_probe,
        intra_batch_dedup,
    )
    from similarity_search_with_hadoop_mapreduce_spark.plans import (
        explain_string,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.locality.wait", "0")
        .config("spark.scheduler.revive.interval", "1ms")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def novel_docs(start_id: int, n: int):
        # every doc gets a disjoint token vocabulary -> no shingle
        # collisions, so each epoch is fully accepted and the index
        # grows by exactly the epoch size (the pure-growth worst case
        # for the O(epoch) claim)
        return spark.range(start_id, start_id + n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.array(
                    *[
                        F.concat(F.lit(f"w{j}t"), F.col("id").cast("string"))
                        for j in range(30)
                    ]
                ),
            ).alias("text"),
        )

    prefix = "scale_loop_idx"
    # a previous run's managed-table locations survive the session; an
    # unregistered-but-present location fails saveAsTable
    import shutil

    for t in (f"{prefix}_digest", f"{prefix}_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    base = novel_docs(0, 1000)
    build_dedup_index(base, prefix=prefix)
    if full_gates:
        from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
            drift_from_profile,
            gopher_pass_filter,
            lm_score_from_model,
            save_lm_model,
            save_term_profile,
            save_vocab,
            encode_with_vocab,
        )

        save_lm_model(base, prefix="scale_loop_lm")
        save_term_profile(base, prefix="scale_loop_profile")
        save_vocab(base, prefix="scale_loop_vocab")
        # the synthetic docs are 30 words of per-doc-unique tokens:
        # relax the word-shape rules so the gate passes them and the
        # dedup spine still sees the full epoch
        rule_kwargs = dict(
            min_words=10, min_mean_word_len=1.0, max_mean_word_len=50.0,
            max_symbol_ratio=1.0, min_alpha_frac=0.0, min_stop_hits=0,
        )

    walls, index_rows = [], []
    for e in range(n_epochs):
        batch = novel_docs(100_000 + e * epoch_docs, epoch_docs).persist()
        batch.count()  # materialize outside the timed window
        t0 = time.perf_counter()
        if full_gates:
            # the streaming loop's exact stage order, gates first
            drift_from_profile(batch, prefix="scale_loop_profile").write\
                .format("noop").mode("overwrite").save()
            batch = gopher_pass_filter(batch, **rule_kwargs)
            ok = lm_score_from_model(batch, prefix="scale_loop_lm").filter(
                F.col("avg_nll") <= 1e9
            )
            batch = batch.join(ok.select("doc_id"), "doc_id", "semi")
        dups = incremental_dedup_probe(spark, batch, prefix=prefix)
        intra = intra_batch_dedup(batch)
        dup_ids = (
            dups.select("doc_id")
            .unionByName(intra.select("doc_id"))
            .distinct()
        )
        accepted = batch.join(dup_ids, "doc_id", "left_anti")
        append_dedup_index(accepted, prefix=prefix, epoch_id=e)
        if full_gates:
            encode_with_vocab(accepted, prefix="scale_loop_vocab").write\
                .format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))
        batch.unpersist()
        index_rows.append(spark.table(f"{prefix}_bands").count())
        if compact_every and (e + 1) % compact_every == 0:
            compact_dedup_index(spark, prefix=prefix)  # untimed maintenance

    # plan assertion at the FINAL (largest) index: both stored scans
    # still bucketed and no Exchange re-partitions them
    probe = incremental_dedup_probe(
        spark, novel_docs(999_000, 10), prefix=prefix
    )
    plan = explain_string(probe, "formatted")
    assert plan.count("Bucketed: true") == 2, "stored scans lost bucketing"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = explain_string(
            incremental_dedup_probe(
                spark, novel_docs(999_000, 10), prefix=prefix
            ),
            "formatted",
        )
        assert plan2.count("Bucketed: true") == 2
        assert not re.search(r"Exchange hashpartitioning\((digest|bh)#", plan2), (
            "probe re-shuffles the stored side"
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    half = n_epochs // 2
    print(
        json.dumps(
            {
                "metric": "curation_loop_epoch_wall",
                "n_epochs": n_epochs,
                "epoch_docs": epoch_docs,
                "walls_s": walls,
                "index_band_rows": [index_rows[0], index_rows[-1]],
                "mean_first_half_s": round(sum(walls[:half]) / half, 3),
                "mean_second_half_s": round(
                    sum(walls[half:]) / (n_epochs - half), 3
                ),
                "compact_every": compact_every,
                "full_gates": full_gates,
                "plan_bucketed_scans": 2,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
