#!/usr/bin/env python
"""Exercise similarity_multi_query's shuffled plan at its ORGANIC
trigger: a query battery whose term volume genuinely exceeds the
operator's 2M-term broadcast limit (``similarity._BROADCAST_TERM_LIMIT``),
not a forced one.

Builds the battery against the 10×-replicated corpus (run
``scripts/make_scale10x.py`` first, or pass an sf dir as argv[1]):
query ids are taken in order until the summed distinct-trigram counts
cross the limit. The big battery goes through the operator as a caller
sends it: its answer passes ``similarity._LITERAL_ROW_LIMIT`` rows, so
the resident index stops counting and the Spark plan runs, and the
script asserts that plan is the shuffled one (``ShuffledHashJoin``).
A small battery on the same corpus is answered from the index; its
Spark plan, forced by a row limit of -1, is the broadcast one (the
guard is a real threshold, not a constant), and answers the same rows.
Both plans agree on a spot-checked query's result.
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
    from similarity_search_with_hadoop_mapreduce_spark.operators import similarity
    from similarity_search_with_hadoop_mapreduce_spark.plans import explain_string

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
    multi_query = similarity.similarity_multi_query

    def spark_plan(battery):
        """The operator's Spark plan for a battery the index answers."""
        limit = similarity._LITERAL_ROW_LIMIT
        similarity._LITERAL_ROW_LIMIT = -1
        try:
            return multi_query(docs, battery)
        finally:
            similarity._LITERAL_ROW_LIMIT = limit

    def shuffled(df) -> bool:
        return "ShuffledHashJoin" in explain_string(df)

    # per-doc distinct-trigram counts, ascending doc_id: take ids until
    # the battery's term volume crosses the broadcast limit
    BUDGET = similarity._BROADCAST_TERM_LIMIT
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

    # organic trigger: the operator as called, expect the shuffled plan;
    # the call builds the index, counts overlaps up to the row limit and
    # runs the probe
    t0 = time.perf_counter()
    df = multi_query(docs, qids)
    call = time.perf_counter() - t0
    assert shuffled(df), explain_string(df)
    t0 = time.perf_counter()
    n = df.count()
    wall = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
    print(f"shuffled@default: call={call:.1f}s rows={n} wall={wall:.1f}s "
          f"shuffle_exchanges~{n_ex}")

    # the guard is a threshold, not a constant: a small battery on the
    # SAME corpus gets the broadcast plan, and the index's answer
    t0 = time.perf_counter()
    indexed = sorted(multi_query(docs, qids[:3]).collect())
    print(f"index (3 queries): rows={len(indexed)} "
          f"wall={time.perf_counter()-t0:.1f}s")
    small = spark_plan(qids[:3])
    assert not shuffled(small), explain_string(small)
    t0 = time.perf_counter()
    rows_small = sorted(small.collect())
    print(f"broadcast@default (3 queries): rows={len(rows_small)} "
          f"wall={time.perf_counter()-t0:.1f}s")
    assert rows_small == indexed

    # result parity on one query of the big battery: the shuffled rows
    # for qid[0] equal the broadcast plan run on just that query
    one = {
        (r.doc_id, r.shared)
        for r in spark_plan([qids[0]]).collect()
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
