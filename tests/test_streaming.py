"""True Structured Streaming execution (readStream → watermark → window →
availableNow → memory sink) vs the identical batch aggregation.

Append mode only emits windows the final watermark has passed, so the
streaming result must equal the batch result restricted to windows with
``window_end <= max(ts) - watermark``."""

from __future__ import annotations

from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.sources.tables import load_table
from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
    streaming_dedup_demo,
    streaming_user_totals_demo,
)
from similarity_search_with_hadoop_mapreduce_spark.streaming.windows import (
    streaming_tumbling_demo,
    tumbling_agg,
)

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_matches_batch_for_closed_windows(spark):
    got = streaming_tumbling_demo(spark, SF_DIR, watermark="2 hours")
    events = load_table(spark, SF_DIR, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = tumbling_agg(events)
    closed = batch.filter(
        F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    )
    key = lambda r: (r.window_start, r.event_type)
    want = {key(r): (r.n_events, r.total_value) for r in closed.collect()}
    have = {key(r): (r.n_events, r.total_value) for r in got.collect()}
    assert want == have
    assert len(have) > 0


def test_stateful_user_totals_matches_batch(spark):
    got = {
        r.user_id: (r.n_events, r.total_cents)
        for r in streaming_user_totals_demo(spark, SF_DIR).collect()
    }
    events = load_table(spark, SF_DIR, "events")
    want = {
        r.user_id: (r.n, r.tc)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("tc"),
        )
        .collect()
    }
    assert got == want


def test_streaming_dedup_keeps_each_event_once(spark):
    got = streaming_dedup_demo(spark, SF_DIR)
    events = load_table(spark, SF_DIR, "events")
    assert got.count() == events.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()


def test_stream_stream_interval_join_matches_batch(spark):
    from similarity_search_with_hadoop_mapreduce_spark.streaming.windows import (
        interval_join,
        streaming_interval_join_demo,
    )

    got = streaming_interval_join_demo(spark, SF_DIR)
    events = load_table(spark, SF_DIR, "events")
    want = interval_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )
    key = lambda r: (r.click_id, r.purchase_id)
    want_set = {key(r) for r in want.collect()}
    have_set = {key(r) for r in got.collect()}
    # inner stream-stream join under availableNow emits every match
    assert want_set == have_set
    assert len(have_set) > 0


def test_stream_static_enrich_matches_batch_join(spark):
    from similarity_search_with_hadoop_mapreduce_spark.streaming.windows import (
        streaming_static_enrich_demo,
    )

    got = streaming_static_enrich_demo(spark, SF_DIR)
    events = load_table(spark, SF_DIR, "events")
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    want = events.join(cust, "user_id").select(
        "event_id", "user_id", "event_type", "value", "c_name", "c_mktsegment"
    )
    key = lambda r: (r.event_id, r.c_name, r.c_mktsegment)
    assert {key(r) for r in got.collect()} == {key(r) for r in want.collect()}
    assert got.count() == want.count()


def test_foreach_batch_sink_writes_all_events_idempotently(spark, tmp_path):
    from similarity_search_with_hadoop_mapreduce_spark.streaming.windows import (
        streaming_foreach_batch_demo,
    )

    out = str(tmp_path / "events_out")
    streaming_foreach_batch_demo(spark, SF_DIR, out)
    events = load_table(spark, SF_DIR, "events")
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    assert back.select("event_id").distinct().count() == events.count()
    # re-running against the same checkpoint is a no-op (epochs committed)
    streaming_foreach_batch_demo(spark, SF_DIR, out)
    assert spark.read.parquet(out).count() == events.count()


def test_tws_gate_or_matches_batch(spark):
    """transformWithStateInPandas (Spark 4 state API): when its protobuf
    dependency is present the running totals must equal the batch
    aggregate exactly (integer cent accumulator => order-independent);
    without it the operator must fail fast with the documented gate."""
    import pytest

    from similarity_search_with_hadoop_mapreduce_spark.streaming import stateful as S

    if not S.tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            S.streaming_user_totals_tws_demo(spark, SF_DIR)
        return
    got = (
        S.streaming_user_totals_tws_demo(spark, SF_DIR)
        .orderBy("user_id")
        .collect()
    )
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_streaming_neardup_probe_matches_batch(spark, tmp_path):
    """The streaming near-dup probe (foreachBatch over the stored dedup
    index) must flag exactly the duplicates the batch probe flags on the
    same incoming set, regardless of how the stream slices epochs, and
    replaying the drained stream must be a no-op (epoch-partitioned
    dynamic overwrite)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_probe,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_neardup_probe_demo,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = docs.filter(F.col("doc_id") >= 400)
    build_dedup_index(corpus, prefix="stream_dedup_index")
    inc_dir = str(tmp_path / "incoming")
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    incoming.repartition(3).write.parquet(inc_dir)
    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    streaming_neardup_probe_demo(spark, inc_dir, out, ckpt)
    streamed = spark.read.parquet(out)
    assert streamed.select("epoch").distinct().count() == 3
    batch = incremental_dedup_probe(spark, incoming, prefix="stream_dedup_index")
    key = lambda r: (r.doc_id, r.dup_of, r.kind, round(r.jaccard, 9))
    want = sorted(map(key, batch.collect()))
    have = sorted(map(key, streamed.drop("epoch").collect()))
    assert want == have and want
    # drained stream: re-run consumes nothing and changes nothing
    streaming_neardup_probe_demo(spark, inc_dir, out, ckpt)
    again = sorted(map(key, spark.read.parquet(out).drop("epoch").collect()))
    assert again == want


def test_streaming_ann_ingest_matches_full_rebuild(spark, tmp_path):
    """Streaming ANN ingestion: half the corpus builds the layout, the
    other half streams in over micro-batches (frozen books) — the probe
    must equal a full rebuild over the union."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.ann import (
        ivfpq_topk_from_layout,
        kmeans_codebook,
        pq_codebooks,
        write_ivfpq_layout,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_ann_ingest_demo,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    coarse = kmeans_codebook(emb, n_centroids=8, iters=1)
    books = pq_codebooks(emb, m=4, sub_dim=16, k_sub=8, iters=1)
    resident = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)
    layout = str(tmp_path / "layout")
    # epoch partition level: the ingest demo's idempotent-append contract
    write_ivfpq_layout(resident, layout, coarse, books, epoch=-1)
    inc_dir = str(tmp_path / "incoming")
    arriving.repartition(3).write.parquet(inc_dir)  # three micro-batches
    ckpt = str(tmp_path / "ckpt")
    streaming_ann_ingest_demo(spark, inc_dir, layout, ckpt, coarse, books)
    full = str(tmp_path / "full")
    write_ivfpq_layout(emb, full, coarse, books)
    key = lambda r: (r.vec_id, r.centroid_id, r.code_packed, r.pq_score)
    got = ivfpq_topk_from_layout(
        spark, layout, emb, 0, coarse_book=coarse, pq_books=books
    ).collect()
    want = ivfpq_topk_from_layout(
        spark, full, emb, 0, coarse_book=coarse, pq_books=books
    ).collect()
    assert [key(r) for r in got] == [key(r) for r in want] and len(got) == 10
    # drained stream: re-running appends nothing (checkpoint committed)
    n_before = spark.read.parquet(layout).count()
    streaming_ann_ingest_demo(spark, inc_dir, layout, ckpt, coarse, books)
    assert spark.read.parquet(layout).count() == n_before
    # crash-replay: lose the checkpoint entirely -> every epoch re-fires
    # with the same batches; per-epoch dynamic overwrite makes that a
    # self-overwrite, not duplication (ADVICE r4: duplicated vectors
    # would change top-k and recall)
    import shutil

    shutil.rmtree(ckpt)
    streaming_ann_ingest_demo(spark, inc_dir, layout, ckpt, coarse, books)
    assert spark.read.parquet(layout).count() == n_before
    replay = ivfpq_topk_from_layout(
        spark, layout, emb, 0, coarse_book=coarse, pq_books=books
    ).collect()
    assert [key(r) for r in replay] == [key(r) for r in want]


def test_streaming_curation_loop_closed(spark, tmp_path):
    """The closed loop: epoch 2's duplicate of an epoch-1 ACCEPTED doc
    is rejected (the index grew mid-stream), and the accepted set equals
    sequential batch processing of the same epochs."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="loop_dedup_index")
    e1 = [(100, "fresh arrival text about rivers and mountain lakes today")]
    e2 = [(200, "fresh arrival text about rivers and mountain lakes today"),
          (201, "wholly original content with no relatives anywhere at all"),
          # NEAR dup (digest differs, bands collide) of the epoch-1
          # arrival: only the BAND index can reject it — pins that the
          # per-epoch append really grows the near layer, not just the
          # digests (r5 regression: recache-by-path emptied the band
          # append; only exact dups were being caught across epochs)
          (202, "fresh arrival text about rivers and mountain lakes today!")]
    inc = tmp_path / "incoming"
    inc.mkdir()
    # one file per epoch, named so listing order gives e1 before e2
    spark.createDataFrame(e1, "doc_id long, text string").coalesce(1)\
        .write.parquet(str(inc / "e1"))
    spark.createDataFrame(e2, "doc_id long, text string").coalesce(1)\
        .write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(spark, f"{inc}/*", out, ckpt)
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    # 100 accepted (nothing like it in the corpus); 200 REJECTED as an
    # exact duplicate of the mid-stream arrival 100; 201 accepted;
    # 202 REJECTED as a NEAR duplicate of 100 via the appended bands
    assert accepted == {100, 201}
    # the band index grew by the accepted epoch-1 doc (epoch-stamped)
    band_epochs = {
        r.epoch for r in spark.table("loop_dedup_index_bands")
        .select("epoch").distinct().collect()
    }
    assert 0 in band_epochs  # epoch 0's append landed in the NEAR layer


def test_streaming_curation_loop_bloom_gate_is_invisible(spark, tmp_path):
    """r12 dial: ``dedup_bloom_gate=True`` routes every epoch's stored-
    index probe through the batch-built bloom gate. The gate is purely
    physical, so the gated loop's accepted set must equal the ungated
    closed-loop verdicts exactly — including the cross-epoch exact AND
    near rejections that only exist because the index grew mid-stream."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="bloomloop_idx")
    e1 = [(100, "fresh arrival text about rivers and mountain lakes today")]
    e2 = [(200, "fresh arrival text about rivers and mountain lakes today"),
          (201, "wholly original content with no relatives anywhere at all"),
          (202, "fresh arrival text about rivers and mountain lakes today!")]
    inc = tmp_path / "incoming"
    inc.mkdir()
    spark.createDataFrame(e1, "doc_id long, text string").coalesce(1)\
        .write.parquet(str(inc / "e1"))
    spark.createDataFrame(e2, "doc_id long, text string").coalesce(1)\
        .write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, prefix="bloomloop_idx",
        dedup_bloom_gate=True,
    )
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    # identical verdicts to the ungated closed-loop test: 200 exact-dup
    # of mid-stream 100, 202 near-dup of 100 via the appended bands
    assert accepted == {100, 201}


def test_streaming_curation_loop_survives_empty_epoch(spark, tmp_path):
    """An empty micro-batch (a backfill gap / empty file) must pass
    through the probe -> accept -> append cycle as a no-op, not break
    the query or the indexes."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="loop_dedup_index")
    inc = tmp_path / "incoming"
    inc.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(300, "arrival before the gap about oceans and tides")], schema
    ).coalesce(1).write.parquet(str(inc / "e1"))
    spark.createDataFrame([], schema).coalesce(1).write.parquet(str(inc / "e2"))
    spark.createDataFrame(
        [(301, "arrival before the gap about oceans and tides")], schema
    ).coalesce(1).write.parquet(str(inc / "e3"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(spark, f"{inc}/*", out, ckpt)
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    # 300 accepted; empty epoch a no-op; 301 rejected as dup of 300
    assert accepted == {300}


def test_streaming_curation_loop_intra_epoch_dedup(spark, tmp_path):
    """Duplicates arriving WITHIN one epoch: the stored-index probe
    alone cannot see them (the index only knows the past), so the loop's
    in-batch pass must accept exactly one member (the min doc_id) and
    append only that one — 'dedup at ingest' holds inside an epoch, not
    just across epochs (ADVICE r4 medium)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="loop_dedup_index")
    schema = "doc_id long, text string"
    e1 = [
        (500, "same-epoch payload about comets and meteor showers"),
        (501, "same-epoch payload about comets and meteor showers"),
        (502, "unrelated same-epoch arrival regarding canal locks"),
    ]
    inc = tmp_path / "incoming"
    inc.mkdir()
    spark.createDataFrame(e1, schema).coalesce(1).write.parquet(str(inc / "e1"))
    # epoch 2 duplicates the epoch-1 SURVIVOR -> must still be rejected
    spark.createDataFrame(
        [(600, "same-epoch payload about comets and meteor showers")], schema
    ).coalesce(1).write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(spark, f"{inc}/*", out, ckpt)
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert accepted == {500, 502}
    # the index holds exactly the accepted members, not the in-epoch dup
    idx_docs = {
        r.dup_of for r in spark.table("loop_dedup_index_digest")
        .filter(F.col("epoch") >= 0).collect()
    }
    assert idx_docs == {500, 502}


def test_streaming_curation_loop_crash_between_index_appends(spark, tmp_path, monkeypatch):
    """Crash BETWEEN the digest and band index appends, then replay
    through foreachBatch (the real recovery path, not a hand re-call of
    append_dedup_index): the replayed epoch must probe the PRE-epoch
    index state (exclude_epoch), reproduce the original accepted set,
    skip the already-landed digest half and complete exactly the missing
    band half — ending identical to an uninterrupted run (ADVICE r5
    medium: without epoch exclusion the replay saw its own digests,
    flagged everything as self-duplicates and appended an empty band set
    forever)."""
    import pytest

    import similarity_search_with_hadoop_mapreduce_spark.operators.dedup as DD
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_probe,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="crash_loop_idx")
    schema = "doc_id long, text string"
    epoch = [
        (100, "brand new arrival describing glaciers and fjord weather"),
        (101, "brand new arrival describing glaciers and fjord weather"),
        (102, "wholly unrelated arrival about harbor cranes and cargo"),
    ]
    inc = tmp_path / "incoming"
    inc.mkdir()
    spark.createDataFrame(epoch, schema).coalesce(1).write.parquet(
        str(inc / "e1")
    )
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")

    calls = {"n": 0}

    def boom():
        calls["n"] += 1
        raise RuntimeError("injected crash between index appends")

    monkeypatch.setattr(DD, "_between_appends_hook", boom)
    with pytest.raises(Exception):
        streaming_curation_loop_demo(
            spark, f"{inc}/*", out, ckpt, prefix="crash_loop_idx"
        )
    assert calls["n"] == 1
    # the crash left the epoch half-appended: digests landed, bands not
    dig = spark.table("crash_loop_idx_digest")
    bands = spark.table("crash_loop_idx_bands")
    assert {
        r.dup_of for r in dig.filter(F.col("epoch") >= 0).collect()
    } == {100, 102}
    assert bands.filter(F.col("epoch") >= 0).count() == 0

    monkeypatch.setattr(DD, "_between_appends_hook", None)
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, prefix="crash_loop_idx"
    )
    # accepted output: the intra-epoch dup (101) rejected, nothing lost,
    # nothing doubled by the replay
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [100, 102]
    # digest half was NOT re-appended; band half landed on replay with
    # exactly the accepted docs
    assert {
        (r.dup_of, ) for r in dig.filter(F.col("epoch") >= 0).collect()
    } == {(100,), (102,)}
    assert dig.filter(F.col("epoch") >= 0).count() == 2
    band_docs = {
        r.dup_of
        for r in bands.filter(F.col("epoch") >= 0).collect()
    }
    assert band_docs == {100, 102}
    # the healed index actually serves BOTH layers: a later exact copy
    # of an accepted doc hits the digest index, a near variant (last
    # word changed, jaccard 4/8 = 0.5) hits the band index the replay
    # completed — proof the epoch's band rows really landed
    later = spark.createDataFrame(
        [
            (900, "brand new arrival describing glaciers and fjord weather"),
            (901, "brand new arrival describing glaciers and fjord climate"),
        ],
        schema,
    )
    kinds = {
        (r.doc_id, r.kind, r.dup_of)
        for r in incremental_dedup_probe(
            spark, later, prefix="crash_loop_idx"
        ).collect()
    }
    assert (900, "exact", 100) in kinds and (901, "near", 100) in kinds


def test_streaming_curation_loop_with_inline_compaction(spark, tmp_path):
    """The self-maintaining loop configuration: compact_every runs the
    statistics compaction INSIDE the stream after every epoch — the
    accepted set equals the uncompacted run, epoch stamps survive for
    the replay skip, and the refreshed band statistics are consistent
    (no stale-cap rows)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_stats,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="cmp_loop_idx")
    schema = "doc_id long, text string"
    inc = tmp_path / "incoming"
    inc.mkdir()
    spark.createDataFrame(
        [(100, "first epoch arrival regarding tidal energy and turbines"),
         (101, "first epoch arrival regarding tidal energy and turbines")],
        schema,
    ).coalesce(1).write.parquet(str(inc / "e1"))
    spark.createDataFrame(
        [(200, "first epoch arrival regarding tidal energy and turbines"),
         (201, "second epoch novel content about alpine cartography")],
        schema,
    ).coalesce(1).write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, prefix="cmp_loop_idx", compact_every=1
    )
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert accepted == {100, 201}  # 101 intra-epoch dup, 200 cross-epoch dup
    stats = dedup_index_stats(spark, prefix="cmp_loop_idx").first()
    assert stats.stale_cap_rows == 0
    # epoch stamps survive compaction -> replay skip keeps working
    epochs = {r.epoch for r in spark.table("cmp_loop_idx_digest")
              .select("epoch").distinct().collect()}
    assert epochs == {-1, 0, 1}


def test_streaming_curation_loop_rule_gate(spark, tmp_path):
    """With rule_gate set, rule-failing docs are rejected BEFORE dedup:
    they never reach the accepted output and never enter the index —
    so a later near-duplicate of a REJECTED doc is still accepted."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="loop_dedup_index")
    # rule_gate: require >= 6 words and >= 1 stopword; no other gates
    gate = dict(
        min_words=6,
        max_words=100000,
        min_mean_word_len=0.0,
        max_mean_word_len=100.0,
        max_symbol_ratio=1.0,
        min_alpha_frac=0.0,
        min_stop_hits=1,
    )
    good = "the rivers and lakes of the northern mountain valleys"
    e1 = [
        (400, good),                      # passes, accepted
        (401, "too short the"),           # fails min_words -> gated out
    ]
    # near-dup of the GATED-OUT doc: must still be accepted (401 never
    # entered the index), while a dup of the ACCEPTED doc is rejected
    e2 = [
        (500, "too short the!"),
        (501, good + "!"),
    ]
    inc = tmp_path / "incoming"
    inc.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(e1, schema).coalesce(1).write.parquet(str(inc / "e1"))
    spark.createDataFrame(e2, schema).coalesce(1).write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, rule_gate=gate
    )
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    # 400 passes+accepted; 401 gated; 500 gated (same rule);
    # 501 rejected as near-dup of 400 via the appended index
    assert accepted == {400}
    # gated-out docs must never have entered the index: the digest
    # table's representatives are exactly the seed corpus doc + the
    # one accepted doc
    idx_ids = {
        r.dup_of
        for r in spark.table("loop_dedup_index_digest")
        .select("dup_of")
        .collect()
    }
    assert idx_ids == {1, 400}


def test_streaming_curation_loop_lm_gate(spark, tmp_path):
    """With lm_gate set, epochs score against the FROZEN stored bigram
    model and atypical docs (high avg_nll) are dropped before the dedup
    probe — they never reach the output or the index."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        lm_score_from_model,
        save_lm_model,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    # model corpus: ordinary-looking transitions
    common = "the rivers and lakes of the northern mountain valleys flow east"
    model_corpus = spark.createDataFrame(
        [(i, common) for i in range(1, 6)], "doc_id long, text string"
    )
    save_lm_model(model_corpus, prefix="loop_lm_model")
    build_dedup_index(model_corpus.limit(1), prefix="loop_dedup_index")
    typical = "the rivers and lakes of the northern mountain valleys"
    weird = "zx qv jj kk wq pz xx yy zz aa"
    e1 = [(700, typical), (701, weird)]
    inc = tmp_path / "incoming"
    inc.mkdir()
    spark.createDataFrame(e1, "doc_id long, text string").coalesce(1)\
        .write.parquet(str(inc / "e1"))
    # pick a ceiling between the two docs' scores against the model
    scores = {
        r.doc_id: r.avg_nll
        for r in lm_score_from_model(
            spark.createDataFrame(e1, "doc_id long, text string"),
            prefix="loop_lm_model",
        ).collect()
    }
    assert scores[701] > scores[700]
    ceiling = (scores[700] + scores[701]) / 2
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, lm_gate=("loop_lm_model", ceiling)
    )
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert accepted == {700}
    idx_ids = {
        r.dup_of
        for r in spark.table("loop_dedup_index_digest").select("dup_of").collect()
    }
    assert 701 not in idx_ids and 700 in idx_ids


def test_streaming_curation_loop_drift_monitor(spark, tmp_path):
    """With drift_monitor set, every epoch lands exactly one drift
    record against the FROZEN term profile — in-distribution epochs
    under the ceiling, an off-distribution epoch over it — and the
    monitor only observes: the off-distribution docs are still
    accepted."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        save_term_profile,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    common = "the rivers and lakes of the northern mountain valleys flow east"
    corpus = spark.createDataFrame(
        [(i, common) for i in range(1, 6)], "doc_id long, text string"
    )
    save_term_profile(corpus, prefix="loop_term_profile")
    build_dedup_index(corpus.limit(1), prefix="loop_dedup_index")
    inc = tmp_path / "incoming"
    inc.mkdir()
    # epoch of in-distribution text, then an off-distribution epoch
    spark.createDataFrame(
        [(800, "the rivers and lakes of the northern mountain valleys")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(inc / "e1"))
    spark.createDataFrame(
        [(801, "zx qv jj kk wq pz xx yy zz aa")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(
        spark,
        f"{inc}/*",
        out,
        ckpt,
        drift_monitor=("loop_term_profile", 500000),
    )
    log = spark.read.parquet(f"{out}_drift_log").collect()
    assert len(log) == 2  # one record per epoch, no duplicates
    by_epoch = sorted(log, key=lambda r: r.tvd_ppm)
    near, far = by_epoch
    # disjoint-vocabulary epoch: TVD = 1.0 (1e6 ppm), over any ceiling
    assert far.tvd_ppm == 1000000 and far.over_ceiling
    assert near.tvd_ppm < 500000 and not near.over_ceiling
    # observe-only: the drifted doc was still accepted
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert accepted == {800, 801}


def test_streaming_curation_loop_encode_sink(spark, tmp_path):
    """With encode_vocab set, every epoch's ACCEPTED docs land a
    training-ready encoded row (frozen-vocab ids, UNK=0) next to the
    text output — rejected duplicates never reach the encoded sink,
    and the batch-side encoder reproduces the streamed rows exactly."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        encode_with_vocab,
        save_vocab,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta unrelated")],
        "doc_id long, text string",
    )
    save_vocab(corpus, prefix="loop_vocab", coverage_ppm=1000000)
    build_dedup_index(corpus, prefix="loop_dedup_index")
    inc = tmp_path / "incoming"
    inc.mkdir()
    novel = (900, "alpha zeta beta")
    dup = (901, "alpha beta gamma delta")  # exact dup of corpus doc 1
    spark.createDataFrame([novel, dup], "doc_id long, text string")\
        .coalesce(1).write.parquet(str(inc / "e1"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, encode_vocab="loop_vocab"
    )
    enc = spark.read.parquet(f"{out}_encoded").collect()
    assert {r.doc_id for r in enc} == {900}  # dup never encoded
    got = enc[0]
    want = encode_with_vocab(
        spark.createDataFrame([novel], "doc_id long, text string"),
        prefix="loop_vocab",
    ).collect()[0]
    assert list(got.ids) == list(want.ids)
    assert (got.n_tokens, got.n_unk) == (want.n_tokens, want.n_unk)
    assert got.n_unk == 1  # 'zeta' is OOV for the corpus vocab


def test_streaming_curation_loop_cm_monitor(spark, tmp_path):
    """r11: with cm_monitor set, every epoch lands (1) a surge report
    probing its exact top terms against the count-min HISTORY and (2)
    its own CM partition in the stored index. Pins: a spam-term surge
    in epoch 2 is flagged (a term whose epoch share has no historical
    counterpart), epoch 1 flags nothing (no history is not a surge),
    batch equivalence — the merged stored partials are BIT-IDENTICAL
    to a direct cm_sketch over all epochs' terms (CM merge is exact
    addition) — and a full replay (fresh checkpoint, same input)
    overwrites its own partitions without changing a single counter."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        build_dedup_index,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.sketches import (
        cm_sketch,
        merge_cm_sketches,
    )
    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        stage_tokens,
    )
    from similarity_search_with_hadoop_mapreduce_spark.streaming.stateful import (
        streaming_curation_loop_demo,
    )

    base_vocab = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(1, "seed corpus document about engines and data pipelines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, prefix="loop_dedup_index")
    inc = tmp_path / "incoming"
    inc.mkdir()
    # epoch 1: four docs of steady vocabulary (each term share 1/8)
    spark.createDataFrame(
        [(900 + i, base_vocab) for i in range(4)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(inc / "e1"))
    # epoch 2: same vocabulary once, plus one spam term at 32x
    spark.createDataFrame(
        [(910, base_vocab + " " + " ".join(["spamword"] * 32))],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(inc / "e2"))
    out, ckpt = str(tmp_path / "accepted"), str(tmp_path / "ckpt")
    cm_path = str(tmp_path / "cm_index")
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, ckpt, cm_monitor=(cm_path, 10, 4.0)
    )

    # materialize before the replay below: dynamic overwrite replaces
    # the files a lazily-held DataFrame would still point at
    log_rows = spark.read.parquet(f"{out}_cm_log").collect()
    e0 = [r for r in log_rows if r.epoch == 0]
    assert e0 and all(not r.flagged and r.hist_est is None for r in e0)
    e1 = {r.term: r for r in log_rows if r.epoch == 1}
    assert e1["spamword"].flagged  # 800k ppm vs zero history
    assert e1["spamword"].hist_est == 0
    steady = [r for t, r in e1.items() if t != "spamword"]
    assert steady and all(not r.flagged for r in steady)
    # steady terms: epoch share 25k ppm, history 125k ppm — under 4x
    assert all(r.hist_share_ppm == 125000 for r in steady)

    # batch equivalence: merged stored partials == direct sketch over
    # the union of both epochs' token streams, bit-identical
    def cm_rows(df):
        return sorted(
            (r.depth, r.bucket, r.cnt)
            for r in merge_cm_sketches(df).collect()
        )

    all_docs = spark.read.parquet(str(inc / "e1")).unionByName(
        spark.read.parquet(str(inc / "e2"))
    )
    terms = (
        stage_tokens(all_docs, "text", "doc_id")
        .select(F.explode("_toks").alias("term"))
        .filter(F.length("term") > 0)
    )
    direct = cm_rows(cm_sketch(terms, "term"))
    stored = cm_rows(spark.read.parquet(cm_path).drop("epoch"))
    assert stored == direct

    # replay: fresh checkpoint reprocesses both epochs with the same
    # epoch ids — dynamic overwrite lands on the same partitions, the
    # surge report re-probes the pre-epoch history, nothing changes
    streaming_curation_loop_demo(
        spark, f"{inc}/*", out, str(tmp_path / "ckpt2"),
        cm_monitor=(cm_path, 10, 4.0),
    )
    assert cm_rows(spark.read.parquet(cm_path).drop("epoch")) == direct
    log2_rows = spark.read.parquet(f"{out}_cm_log").collect()
    assert len(log2_rows) == len(log_rows)
    assert {
        (r.epoch, r.term, r.flagged) for r in log2_rows
    } == {(r.epoch, r.term, r.flagged) for r in log_rows}
