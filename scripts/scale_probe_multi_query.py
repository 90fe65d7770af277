#!/usr/bin/env python
"""Exercise similarity_multi_query's shuffled plan at its ORGANIC
trigger (VERDICT r7 item 5): a query battery whose term volume genuinely
exceeds the DEFAULT 2M-term broadcast budget, not a forced
``broadcast_term_limit=0``.

Builds the battery against the 10×-replicated corpus (run
``scripts/make_scale10x.py`` first, or pass an sf dir as argv[1]):
query ids are taken in order until the summed distinct-trigram counts
cross the default budget. Asserts ``stats['multi_query_plan'] ==
'shuffled'`` at the DEFAULT limit, that a small battery on the same
corpus still picks ``broadcast`` (the guard is a real threshold, not a
constant), and that both plans agree on a spot-checked query's result.
Prints wall + output rows + exchange count for the SCALE.md row.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sparkgraft-sf1.0"


def main() -> int:
    if not os.path.isdir(SF_DIR):
        raise SystemExit(
            f"{SF_DIR} missing — run scripts/make_scale10x.py first"
        )
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        staged_shingles_frame,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
        similarity_multi_query,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # per-doc distinct-trigram counts, ascending doc_id: take ids until
    # the battery's term volume crosses the default broadcast budget
    BUDGET = 2_000_000
    counts = (
        staged_shingles_frame(docs, "text", alias="s")
        .select("doc_id", F.size("s").alias("n"))
        .orderBy("doc_id")
        .collect()
    )
    qids, total = [], 0
    for r in counts:
        qids.append(r.doc_id)
        total += r.n
        if total > BUDGET:
            break
    print(f"battery: {len(qids)} queries, {total} terms (budget {BUDGET})")
    assert total > BUDGET, "corpus too small to cross the default budget"

    # organic trigger: DEFAULT limit, expect the shuffled plan
    stats: dict = {}
    df = similarity_multi_query(docs, qids, stats=stats)
    assert stats["multi_query_plan"] == "shuffled", stats
    t0 = time.perf_counter()
    n = df.count()
    wall = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
    print(f"shuffled@default: rows={n} wall={wall:.1f}s shuffle_exchanges~{n_ex}")

    # the guard is a threshold, not a constant: a small battery on the
    # SAME corpus picks broadcast
    stats2: dict = {}
    small = similarity_multi_query(docs, qids[:3], stats=stats2)
    assert stats2["multi_query_plan"] == "broadcast", stats2
    t0 = time.perf_counter()
    n_small = small.count()
    print(f"broadcast@default (3 queries): rows={n_small} "
          f"wall={time.perf_counter()-t0:.1f}s")

    # result parity on one query of the big battery: the shuffled rows
    # for qid[0] equal the broadcast plan run on just that query
    one = {
        (r.doc_id, r.shared)
        for r in similarity_multi_query(docs, [qids[0]]).collect()
    }
    big = {
        (r.doc_id, r.shared)
        for r in df.filter(F.col("query_id") == str(qids[0])).collect()
    }
    assert one == big, (len(one), len(big))
    print("parity: shuffled battery slice == broadcast single-query run")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
