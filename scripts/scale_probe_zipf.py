#!/usr/bin/env python
"""Skew-machinery probe on the Zipf corpus (r11 verdict #4): measure —
on text shaped like real text — the two defenses the dense driver
fixture could never exercise, plus the bloom decontamination gate.

1. PREFIX FILTER candidate collapse: distinct candidate pairs from
   rare-term prefixes vs the full inverted index's term-join pair
   volume. On the dense corpus the two are comparable (nothing is
   rare); on Zipf text the prefix candidates should collapse.
2. DF-CAP prune: the inverted index's join volume with and without
   max_df — the O(df²) mass lives in a tiny hot head on Zipf text, so
   a cap on hot terms should remove most of the join volume while
   touching few distinct terms.
3. Walls on zipf0.1 (5000 docs) for the exact-pair entries, both
   plans, vs the same entries on the dense sf0.1 corpus.
4. Bloom decontamination prune rate (gram-stream survivors / total).

Writes scale_probe_zipf.json. Inputs default to the fixtures
scripts/make_zipf_corpus.py lays down under .fixtures/.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ZIPF = sys.argv[1] if len(sys.argv) > 1 else ".fixtures/zipf0.1"
DENSE = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        staged_shingles_frame,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators import dedup as D

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "16")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", "10g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.locality.wait", "0")
        .config("spark.scheduler.revive.interval", "1ms")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"zipf_dir": ZIPF, "dense_dir": DENSE}

    def docs(d):
        return spark.read.parquet(os.path.join(d, "documents.parquet"))

    def wall3(df) -> float:
        df.write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    for tag, d in (("zipf", ZIPF), ("dense", DENSE)):
        sh = staged_shingles_frame(docs(d), "text", alias="s")
        terms = sh.select("doc_id", F.explode("s").alias("term"))
        dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        stats = dfreq.agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("occurrences"),
            F.max("df").alias("max_df"),
            F.sum(F.col("df") * F.col("df")).alias("join_volume"),
            F.sum(F.when(F.col("df") > 100, F.col("df") * F.col("df"))
                  .otherwise(F.lit(0))).alias("join_volume_hot100"),
            F.sum(F.when(F.col("df") > 100, 1).otherwise(0))
            .alias("n_terms_hot100"),
        ).collect()[0]
        out[f"{tag}_corpus"] = {k: int(v) for k, v in stats.asDict().items()}
        # the df-cap's leverage: share of O(df²) join mass in df>100 terms
        out[f"{tag}_corpus"]["hot100_volume_share"] = round(
            stats["join_volume_hot100"] / stats["join_volume"], 4
        )

    # 1+2: candidate volumes on the Zipf corpus
    zd = docs(ZIPF)
    full_pairs = D.ngram_jaccard_pairs(zd, threshold=0.0)
    out["inverted_index_pairs"] = full_pairs.count()
    capped_pairs = D.ngram_jaccard_pairs(zd, threshold=0.0, max_df=100)
    out["inverted_index_pairs_maxdf100"] = capped_pairs.count()
    sh = staged_shingles_frame(zd, "text", alias="s")
    terms = sh.select(
        "doc_id", F.size("s").alias("sz"), F.explode("s").alias("term")
    )
    from pyspark.sql import Window

    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "term")
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(0.5)).cast("int") + 1
    )
    pt = (
        terms.join(dfreq, "term").withColumn("rn", rn)
        .filter(F.col("rn") <= prefix_len).select("doc_id", "term")
    )
    a = pt.select(F.col("doc_id").alias("doc_a"), "term")
    b = pt.select(F.col("doc_id").alias("doc_b"), "term")
    out["prefix_candidates_t0.5"] = (
        a.join(b, "term").filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    )

    # 3: entry walls, both corpora
    from similarity_search_with_hadoop_mapreduce_spark.registry import QUERIES

    for name in ("dedup_ngram_jaccard", "dedup_jaccard_prefix_filter",
                 "dedup_minhash_lsh", "text_decontamination",
                 "text_decontamination_bloom"):
        out[f"wall_{name}"] = {
            "zipf0.1": wall3(QUERIES[name](spark, ZIPF)),
            "dense_sf0.1": wall3(QUERIES[name](spark, DENSE)),
        }

    # 4: bloom gate prune rate on the Zipf corpus
    from similarity_search_with_hadoop_mapreduce_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )
    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        ngrams_attr_sql,
        stage_tokens,
    )

    corpus = zd.filter("doc_id % 17 <> 0")
    bench = zd.filter("doc_id % 17 = 0")
    bg = (
        stage_tokens(bench, "text", "doc_id")
        .select(F.explode(F.array_distinct(
            F.expr(ngrams_attr_sql("_toks", 3)))).alias("gram"))
        .distinct()
    )
    stream = stage_tokens(corpus, "text", "doc_id").select(
        F.explode(F.array_distinct(
            F.expr(ngrams_attr_sql("_toks", 3)))).alias("gram")
    )
    total = stream.count()
    out["decon_gram_stream"] = total
    out["decon_bench_grams"] = bg.count()
    out["decon_true_hits"] = stream.join(bg, "gram").count()
    # sized-to-benchmark bitmap (the operator default) AND the
    # watchlist-sized family default, to show saturation is a real
    # failure mode the sizing dial exists for
    for label, m_bits, k in (("sized_2^20", 1 << 20, 5),
                             ("family_default_2^14", 1 << 14, 5)):
        bloom = bloom_build(bg, "gram", m_bits=m_bits, k=k,
                            with_count=False)
        surv = bloom_probe(stream, bloom, "gram", m_bits=m_bits,
                           k=k).filter("bloom_hit").count()
        out[f"decon_bloom_survivors_{label}"] = surv
        out[f"decon_prune_rate_{label}"] = round(1 - surv / total, 4)

    with open("scale_probe_zipf.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
