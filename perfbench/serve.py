"""One measured process of the benchmark: a client of the package that
sets up, sends its requests in a closed loop and writes what it saw to a
JSON file. ``run.py`` starts it, then checks the answers outside it so
the checker's memory never counts in the peak resident set.

Modes (``--workload``):

- ``topk_serve``: a resident session over the parquet corpus in
  ``--input``; set-up is ``get_session`` + ``load_table`` + ``count``;
  ``WARMUP`` untimed warm-up requests, then requests for
  ``--seconds``, each on a query id never used before in the run;
- ``cli_books``: the traced form of the reference CLI — the same calls
  ``__main__.main`` makes, one span each, in this fresh process.

With ``--trace 1`` each call into a layer runs inside a span, each
traced request runs in its own Spark job group, and after the loop the
process makes one standalone shingling pass and one scan pass over the
corpus. In ``topk_serve`` traced and untraced requests alternate, so the
run also measures the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

from spans import (
    Tracer,
    cpu_s,
    jit_compile_s,
    job_group,
    job_group_stats,
    tree_cpu_s,
    tree_peak_rss_mb,
    tree_pids,
)

# untimed warm-up requests. Every request compiles new generated code, so
# the JIT keeps working through the first dozens of requests of a fresh
# JVM; a fixed count, not a fixed time, leaves each run's timed requests
# at the same point of that curve however fast the host is that minute
WARMUP = 6
TOP_K = 10


def _nospan(name, request=None):
    return contextlib.nullcontext()


def _layer_passes(docs, span) -> dict:
    """Standalone passes over the corpus frame: one shingling pass
    (``staged_shingles_frame`` + total shingle count) and one scan pass
    (the loaded frame sent to the ``noop`` sink)."""
    from pyspark.sql import functions as F

    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        staged_shingles_frame,
    )

    with span("text.staged_shingles_frame") as s:
        shingles = staged_shingles_frame(docs, "text", alias="s").agg(
            F.sum(F.size("s"))
        ).first()[0]
    shingle_s = s["end"] - s["start"]
    with span("tables.scan") as s:
        docs.write.format("noop").mode("overwrite").save()
    return {
        "text.shingle_s": shingle_s,
        "text.shingles": shingles,
        "text.shingles_per_s": shingles / shingle_s,
        "tables.scan_s": s["end"] - s["start"],
    }


def serve(a) -> dict:
    from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
        top_k_similar,
    )
    from similarity_search_with_hadoop_mapreduce_spark.session import get_session
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import (
        load_table,
    )

    tracer = Tracer()
    with open(a.queries) as f:
        queries = json.load(f)

    t0, cpu0 = time.perf_counter(), cpu_s(os.getpid())
    with tracer.span("session.get_session"):
        spark = get_session()
    with tracer.span("tables.load_table"):
        docs = load_table(spark, a.input, "documents")
    with tracer.span("tables.count"):
        n = docs.count()
    setup_s = time.perf_counter() - t0
    # this Python process and the JVM it started
    pids = tree_pids(os.getpid())
    setup_cpu_s = tree_cpu_s(pids) - cpu0
    sc = spark.sparkContext

    requests = []
    loop_start = loop_end = None
    n_timed = 0
    for i, q in enumerate(queries):
        now = time.perf_counter()
        warmup = loop_start is None
        if warmup and i >= WARMUP:
            loop_start, warmup = now, False
        # a traced run needs one traced and one untraced request at least
        if not warmup and now - loop_start >= a.seconds and \
                n_timed >= 1 + bool(a.trace):
            break
        traced = bool(a.trace) and not warmup and n_timed % 2 == 0
        n_timed += not warmup
        rid = f"r{i}"
        rec = {"rid": rid, "query": q, "warmup": warmup,
               "traced": traced, "error": None}
        span = tracer.span if traced else _nospan
        try:
            with job_group(sc, rid) if traced else contextlib.nullcontext():
                jit = jit_compile_s(sc) if traced else 0.0
                t, c = time.perf_counter(), tree_cpu_s(pids)
                with span("similarity.build", rid):
                    df = top_k_similar(docs, q, k=TOP_K, total_documents=n)
                t_built = time.perf_counter()
                with span("similarity.collect", rid):
                    rows = df.collect()
                t_done = time.perf_counter()
            rec["latency_s"] = t_done - t
            rec["cpu_s"] = tree_cpu_s(pids) - c
            rec["answer"] = [[int(r.doc_id), float(r.score)] for r in rows]
            if traced:
                stats = job_group_stats(sc, rid)
                stats["build_s"] = t_built - t
                stats["exec_s"] = t_done - t_built
                stats["rows"] = len(rows)
                stats["jit_s"] = jit_compile_s(sc) - jit
                rec["stats"] = stats
        except Exception as e:  # noqa: BLE001 — a failed request is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
        requests.append(rec)
        loop_end = time.perf_counter()

    out = {"setup_s": setup_s, "setup_cpu_s": setup_cpu_s,
           "requests": requests,
           "loop_wall_s": loop_end - loop_start,
           "cores": sc.defaultParallelism, "n_docs": n}
    if a.trace:
        out["layers"] = {
            "session.start_s": tracer.total("session.get_session"),
            "tables.load_s": tracer.total("tables.load_table"),
            **_layer_passes(docs, tracer.span),
        }
        tracer.write(a.spans)
    out["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
    spark.stop()
    return out


def cli_traced(a) -> dict:
    """``__main__.main``'s call sequence, one span per call, then the
    passes that split the write into plan execution and sink."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
        similarity_to_query,
    )
    from similarity_search_with_hadoop_mapreduce_spark.session import get_session
    from similarity_search_with_hadoop_mapreduce_spark.sources.sinks import (
        reference_output_format,
        write_reference_output,
    )
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import (
        load_corpus_dir,
    )

    tracer = Tracer()
    with tracer.span("session.get_session"):
        spark = get_session("similarity-search-cli")
    sc = spark.sparkContext
    with job_group(sc, "cli"):
        with tracer.span("tables.load_corpus_dir", "cli"):
            corpus = load_corpus_dir(spark, a.input)
        with tracer.span("similarity.similarity_to_query", "cli"):
            scores = similarity_to_query(corpus, query_doc_id="query")
        with tracer.span("sinks.write_reference_output", "cli"):
            write_reference_output(scores, a.out_dir)
    t_seq = time.perf_counter()
    cpu_seq = tree_cpu_s(tree_pids(os.getpid()))
    stats = job_group_stats(sc, "cli")
    stats["jit_s"] = jit_compile_s(sc)
    # the sink's self time: the same plan sent to the noop sink, then
    # written again, both warm so neither pays the first run's JIT and
    # codegen. The sink's cost is near the run-to-run noise, so the
    # difference can read slightly below zero.
    with tracer.span("similarity.noop_action", "split") as s:
        reference_output_format(scores).write.format("noop").mode(
            "overwrite"
        ).save()
    exec_s = s["end"] - s["start"]
    with tracer.span("sinks.write_reference_output", "split") as s:
        write_reference_output(scores, f"{a.out_dir}.again")
    write_s = s["end"] - s["start"]
    layers = {
        "session.start_s": tracer.total("session.get_session"),
        "tables.load_s": tracer.total("tables.load_corpus_dir"),
        **_layer_passes(corpus, tracer.span),
        "similarity.build_s": tracer.total("similarity.similarity_to_query"),
        "similarity.exec_s": exec_s,
        "sinks.write_self_s": write_s - exec_s,
        "sinks.bytes_written": sum(
            os.path.getsize(os.path.join(a.out_dir, f))
            for f in os.listdir(a.out_dir)
        ),
    }
    tracer.write(a.spans)
    out = {"stats": stats, "layers": layers, "cores": sc.defaultParallelism,
           "after_sequence_s": time.perf_counter() - t_seq,
           "cpu_sequence_s": cpu_seq,
           "peak_rss_mb": tree_peak_rss_mb(os.getpid())}
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=("topk_serve", "cli_books"))
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True, help="result JSON path")
    ap.add_argument("--queries", help="JSON list of requests, in order")
    ap.add_argument("--out-dir", help="CLI output directory")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", help="span file written by a traced run")
    a = ap.parse_args()
    run = {"topk_serve": serve, "cli_books": cli_traced}[a.workload]
    result = run(a)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
