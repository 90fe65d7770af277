#!/usr/bin/env python
"""Scale probe for the stored ANN layout's append/compact lifecycle
(r5 verdict #4, the ANN twin of scale_probe_curation.py).

Continuous ingest appends one file-set per epoch into each touched
``(centroid_id, epoch)`` partition directory; listing + footer costs
therefore grow with epoch count even though row volume grows slowly —
the same small-file accumulation the r5 curation probe measured at
+42% wall on the dedup index. This probe MEASURES it on an IVF layout:
build a base, append N epochs, time a fixed partition-pruned top-k
probe after each append, then run compact_ann_layout and time the same
probe again, recording layout_stats (n_files / n_epochs) before and
after and asserting the probe's RESULTS are unchanged by compaction.

Expected shape: probe wall creeps with file count during the append
phase and returns to ~the base-build wall after compaction, with
n_files collapsing to one per inverted list.

Usage: python scripts/scale_probe_ann.py [n_epochs] [epoch_vectors]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    epoch_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    import shutil
    import tempfile

    from pyspark.sql import SparkSession, functions as F

    from similarity_search_with_hadoop_mapreduce_spark.operators.ann import (
        append_ivf_layout,
        compact_ann_layout,
        ivf_topk_from_layout,
        kmeans_codebook,
        layout_stats,
        write_ivf_layout,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.locality.wait", "0")
        .config("spark.scheduler.revive.interval", "1ms")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    def synth_vectors(start_id: int, n: int):
        # deterministic pseudo-random unit-cube vectors keyed by id —
        # same dim as the fixture so the frozen book applies
        return spark.range(start_id, start_id + n).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.pmod(F.hash(F.col("id"), F.lit(j)), F.lit(2000))
                        .cast("double")
                        / 1000.0
                        - 1.0
                    ).cast("float")
                    for j in range(dim)
                ]
            ).alias("embedding"),
        )

    book = kmeans_codebook(emb, n_centroids=8, iters=2)
    path = tempfile.mkdtemp(prefix="ann-scale-") + "/layout"
    write_ivf_layout(emb, path, n_centroids=8, book=book, epoch=-1)

    def probe_wall():
        t0 = time.perf_counter()
        rows = ivf_topk_from_layout(
            spark, path, emb, 0, k=10, n_centroids=8, nprobe=2, book=book
        ).collect()
        return round(time.perf_counter() - t0, 3), [
            (r.vec_id, r.centroid_id, r.cosine) for r in rows
        ]

    base_wall, base_topk = probe_wall()
    walls = []
    for e in range(n_epochs):
        batch = synth_vectors(1_000_000 + e * epoch_vecs, epoch_vecs)
        append_ivf_layout(batch, path, book=book, epoch_id=e)
        w, _ = probe_wall()
        walls.append(w)
    before = layout_stats(spark, path).first()
    pre_wall, pre_topk = probe_wall()

    t0 = time.perf_counter()
    compact_ann_layout(spark, path)
    compact_wall = round(time.perf_counter() - t0, 3)
    after = layout_stats(spark, path).first()
    post_wall, post_topk = probe_wall()
    assert post_topk == pre_topk, "compaction changed probe results"
    assert after.n_files == after.n_lists, "directories not single-file"
    assert after.n_rows == before.n_rows, "compaction changed row count"

    half = n_epochs // 2
    print(
        json.dumps(
            {
                "metric": "ann_layout_append_compact",
                "n_epochs": n_epochs,
                "epoch_vectors": epoch_vecs,
                "base_probe_wall_s": base_wall,
                "probe_walls_s": walls,
                "mean_first_half_s": round(sum(walls[:half]) / half, 3),
                "mean_second_half_s": round(
                    sum(walls[half:]) / (n_epochs - half), 3
                ),
                "files_before": before.n_files,
                "files_after": after.n_files,
                "epochs_before": before.n_epochs,
                "epochs_after": after.n_epochs,
                "probe_wall_before_compact_s": pre_wall,
                "probe_wall_after_compact_s": post_wall,
                "compact_wall_s": compact_wall,
                "topk_unchanged": True,
            }
        )
    )
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
