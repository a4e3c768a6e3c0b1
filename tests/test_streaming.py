"""Streaming tests: stateful last-decision-wins + watermarked windows.

Mirrors the reference's moderation functional tests
(pipeline_test.go:1849 approve-all, :2253 decline, :2662 regenerate) with
the Telegram poll replaced by an event stream."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_pipelines_worker_spark.streaming import moderation
from data_pipelines_worker_spark.streaming.windows import windowed_counts


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, event_time timestamp, processing_id string, "
        "block_slug string, input_index long, action string",
    )


T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _t(s):
    return T0 + dt.timedelta(seconds=s)


MOD_ROWS = [
    (1, _t(10), "p1", "moderate", 0, "approve"),
    (2, _t(20), "p1", "moderate", 0, "d"),          # short form, later → wins
    (3, _t(15), "p1", "moderate", 1, "approve"),
    (4, _t(5), "p2", "moderate", 0, "r"),
    (5, _t(5), "p2", "moderate", 1, "huh?"),        # unknown → retry
]


def test_last_decision_batch(spark):
    out = {
        (r.processing_id, r.input_index): r.action
        for r in moderation.last_decision_batch(_events(spark, MOD_ROWS)).collect()
    }
    assert out == {
        ("p1", 0): "decline",
        ("p1", 1): "approve",
        ("p2", 0): "regenerate",
        ("p2", 1): "unknown",
    }


def test_decisions_to_control(spark):
    df = moderation.last_decision_batch(_events(spark, MOD_ROWS))
    ctl = {
        (r.processing_id, r.input_index): r.control
        for r in moderation.decisions_to_control(df).collect()
    }
    assert ctl[("p1", 0)] == "stop"
    assert ctl[("p2", 0)] == "goto"
    assert ctl[("p2", 1)] == "retry"


def test_last_decision_stream_matches_batch(spark, tmp_path):
    src = tmp_path / "mod_events"
    _events(spark, MOD_ROWS).write.parquet(str(src))
    stream = (
        spark.readStream.schema(
            "event_id long, event_time timestamp, processing_id string, "
            "block_slug string, input_index long, action string"
        ).parquet(str(src))
    )
    q = (
        moderation.last_decision_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mod_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT processing_id, input_index, action FROM mod_out"
        ).collect()
    finally:
        q.stop()
    # update mode may emit per-batch rows; the last row per key is the winner
    latest = {}
    for r in rows:
        latest[(r.processing_id, r.input_index)] = r.action
    batch = {
        (r.processing_id, r.input_index): r.action
        for r in moderation.last_decision_batch(_events(spark, MOD_ROWS)).collect()
    }
    assert latest == batch


def test_windowed_counts_stream_matches_batch(spark, tmp_path, sf_dir):
    from data_pipelines_worker_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    batch = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in windowed_counts(ev).collect()
    }
    src = tmp_path / "events_stream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(
        str(src)
    )
    q = (
        windowed_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): (r.n, r.total_value)
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    # append mode only emits windows fully past the watermark; everything
    # emitted must agree with batch, and coverage must be substantial
    assert got
    for k, v in got.items():
        assert batch[k] == v


def test_sessionize_stream_matches_batch(spark, tmp_path, sf_dir):
    # stateful applyInPandasWithState sessionization ≡ the batch lag+sum
    # query when per-user events arrive in order (single sorted source)
    from data_pipelines_worker_spark.queries.relational_queries import (
        q_sessionization,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.sessions import sessionize_stream

    batch = {
        r.event_id: (r.user_id, r.session_no)
        for r in q_sessionization(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .orderBy("ts", "event_id")
        .coalesce(1)
    )
    src = tmp_path / "sess_events"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp"
    ).parquet(str(src))
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.event_id: (r.user_id, r.session_no)
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()
    assert len(got) == len(batch)
    assert got == batch


def test_dedup_stream_matches_batch(spark, tmp_path, sf_dir):
    # first-seen streaming dedup ≡ batch exact_dedup canonical set
    from data_pipelines_worker_spark.operators.dedup import exact_dedup
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.dedup import dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_keepers = {
        r.doc_id
        for r in exact_dedup(docs, "doc_id", "text")
        .where(~F.col("is_duplicate"))
        .collect()
    }
    src = tmp_path / "docs_stream"
    docs.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_out").collect()}
    finally:
        q.stop()
    assert got == batch_keepers


def test_interval_join_stream_matches_batch(spark, tmp_path, sf_dir):
    # watermarked stream-stream interval join ≡ the batch interval join
    # (inner joins emit on arrival; the watermark only bounds state)
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    views_b = ev.where(F.col("event_type") == "view")
    clicks_b = ev.where(F.col("event_type") == "click")
    batch = {
        (r.left_id, r.right_id): r.lag_us
        for r in interval_join(views_b, clicks_b).collect()
    }

    src = tmp_path / "events_src"
    ev.write.parquet(str(src))
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = spark.readStream.schema(schema).parquet(str(src))
    joined = interval_join(
        stream.where(F.col("event_type") == "view"),
        stream.where(F.col("event_type") == "click"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.left_id, r.right_id): r.lag_us
            for r in spark.sql("SELECT * FROM ij_out").collect()
        }
    finally:
        q.stop()
    assert got == batch
    assert batch  # non-trivial: the sf0.001 slice must produce matches


def test_corpus_prep_stream_matches_batch(spark, tmp_path, sf_dir):
    # composed streaming ingestion (first-seen dedup + lang + quality gate
    # + token metering) ≡ the batch corpus_prep query, column for column
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.corpus import corpus_prep_stream
    import __spark_entry__ as entrymod

    batch = {
        r.doc_id: (r.lang_pred, r.quality, r.n_tokens)
        for r in entrymod.queries()["corpus_prep"](spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs_stream"
    docs.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        corpus_prep_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.doc_id: (r.lang_pred, r.quality, r.n_tokens)
            for r in spark.sql("SELECT * FROM corpus_out").collect()
        }
    finally:
        q.stop()
    assert got == batch
    assert batch  # gate+dedup must keep a non-trivial set


def test_windowed_agg_drops_data_later_than_watermark(spark, tmp_path):
    # append-mode watermark contract: once the watermark passes a window's
    # end, that window is final — an event arriving afterwards for it is
    # dropped, not re-emitted (bounded state depends on this)
    import shutil

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "ts timestamp, event_type string, value double"

    def write_batch(name, rows):
        pdf = spark.createDataFrame(rows, schema)
        tmp = tmp_path / ("stage_" + name)
        pdf.coalesce(1).write.parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            shutil.copy(f, src / (name + ".parquet"))

    # phase 1: events in hour 0 and hour 10 — watermark (2h) advances to
    # hour 8, finalizing the hour-0 window
    write_batch(
        "p1",
        [
            (_t(0), "view", 1.0),
            (_t(600), "view", 2.0),
            (_t(10 * 3600), "view", 3.0),
        ],
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        windowed_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r.window_start, r.n, r.total_value)
            for r in spark.sql("SELECT * FROM late_out").collect()
        }
        # hour-0 window emitted (watermark passed), hour-10 still open
        assert any(r[1] == 2 for r in first), first
        # phase 2: a straggler for hour 0 — already finalized, must be dropped
        write_batch("p2", [(_t(30), "view", 99.0)])
        q.processAllAvailable()
        second = {
            (r.window_start, r.n, r.total_value)
            for r in spark.sql("SELECT * FROM late_out").collect()
        }
        assert second == first, "late event past the watermark was not dropped"
    finally:
        q.stop()


def test_stage_store_sink_idempotent_and_batch_parity(spark, tmp_path, sf_dir):
    # streaming ingestion lands in the SAME stage substrate batch pipelines
    # resume from; replaying a micro-batch (at-least-once delivery) must
    # not duplicate rows (batch=<id> overwrite idempotency)
    import os

    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.sources import stage_store
    from data_pipelines_worker_spark.streaming.corpus import corpus_prep_stream
    from data_pipelines_worker_spark.streaming.sink import stage_store_sink
    import __spark_entry__ as entrymod

    batch = {
        r.doc_id: (r.lang_pred, r.quality, r.n_tokens)
        for r in entrymod.queries()["corpus_prep"](spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs_src"
    docs.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    root = str(tmp_path / "stages")
    q = stage_store_sink(
        corpus_prep_stream(stream),
        root,
        "ingest",
        "p1",
        "corpus",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = stage_store.read_stage(spark, root, "ingest", "p1", "corpus")
    # the sink's batch=<id> bookkeeping must not leak into the stage schema
    assert out.columns == ["doc_id", "lang_pred", "quality", "n_tokens"]
    got = {r.doc_id: (r.lang_pred, r.quality, r.n_tokens) for r in out.collect()}
    assert got == batch

    # simulate an at-least-once replay of batch 0: rewriting the same
    # batch directory must leave the logical dataset unchanged
    base = stage_store.stage_path(root, "ingest", "p1", "corpus")
    replay = spark.read.parquet(os.path.join(base, "batch=0"))
    rows, schema = replay.collect(), replay.schema  # materialize before self-overwrite
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(base, "batch=0")
    )
    again = stage_store.read_stage(spark, root, "ingest", "p1", "corpus")
    assert again.count() == len(got)


def test_block_dedup_stream_matches_batch(spark, tmp_path, sf_dir):
    # streaming first-seen block dedup ≡ the batch digest-window decision
    from pyspark.sql import Window as W
    from data_pipelines_worker_spark.operators.curation import explode_word_blocks
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.dedup import block_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    blocks = explode_word_blocks(docs, "doc_id", "text", 20)
    w = W.partitionBy(F.xxhash64(F.col("blk"))).orderBy("doc_id", "blk_idx")
    batch_kept = {
        (r["doc_id"], r["blk_idx"])
        for r in blocks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }

    src = tmp_path / "docs_blk_stream"
    docs.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        block_dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("blk_dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.blk_idx)
            for r in spark.sql("SELECT doc_id, blk_idx FROM blk_dedup_out").collect()
        }
    finally:
        q.stop()
    assert got == batch_kept


def test_block_dedup_stream_state_across_triggers(spark, tmp_path):
    # cross-trigger state: blocks seen in trigger 1 suppress duplicates
    # arriving in trigger 2 (first trigger wins), while genuinely new
    # blocks in trigger 2 still emit
    import time as _time

    from data_pipelines_worker_spark.session import local_df
    from data_pipelines_worker_spark.streaming.dedup import block_dedup_stream

    blk_a = " ".join(f"a{i}" for i in range(20))
    blk_b = " ".join(f"b{i}" for i in range(20))
    blk_c = " ".join(f"c{i}" for i in range(20))

    src = tmp_path / "blk_trigger_stream"
    src.mkdir()
    # file 1: doc 5 carries blocks A+B
    local_df(spark, [(5, f"{blk_a} {blk_b}")], "doc_id long, text string").write.mode(
        "append"
    ).parquet(str(src))
    _time.sleep(1.1)  # distinct mod times -> deterministic file order
    # file 2: doc 2 re-sends A plus new block C. Its doc_id is LOWER than
    # doc 5's, so a single-trigger run would hand A to doc 2 — only true
    # cross-trigger precedence (first trigger wins) keeps A with doc 5.
    local_df(spark, [(2, f"{blk_a} {blk_c}")], "doc_id long, text string").write.mode(
        "append"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        block_dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("blk_trigger_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.blk_idx)
            for r in spark.sql("SELECT doc_id, blk_idx FROM blk_trigger_out").collect()
        }
    finally:
        q.stop()
    # doc 5 (trigger 1) keeps both blocks — including A, despite doc 2's
    # lower id arriving later; doc 2 keeps only the new C block (idx 1)
    assert got == {(5, 0), (5, 1), (2, 1)}


@pytest.mark.slowsuite
def test_windowed_hll_stream_matches_batch(spark, tmp_path, sf_dir):
    # the HLL register fold is max-only (idempotent/commutative), so the
    # streamed sketch must equal the batch sketch bit-for-bit regardless
    # of trigger boundaries
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.sketches import windowed_hll

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "user_id")
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    batch = {
        key(r): (r.n_regs, r.reg_sum, r.z_scaled, r.hll_est)
        for r in windowed_hll(ev).collect()
    }
    src = tmp_path / "hll_stream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id bigint"
    ).parquet(str(src))
    q = (
        windowed_hll(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hll_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            key(r): (r.n_regs, r.reg_sum, r.z_scaled, r.hll_est)
            for r in spark.sql("SELECT * FROM hll_out").collect()
        }
    finally:
        q.stop()
    assert got
    for k, v in got.items():
        assert batch[k] == v
    # and the sketch is meaningful: per-window estimates land within 3x
    # rsd of a small-count window's truth is not guaranteed, but the
    # register invariants are
    for (_, _), (n_regs, reg_sum, z, est) in got.items():
        assert 0 <= n_regs <= 64
        assert reg_sum >= n_regs  # every present register has rho >= 1
        assert est >= 1


def test_streaming_anomaly_counts_match_batch_flags(spark, tmp_path, sf_dir):
    # the stateful half (hourly counts) is additive, so the streamed count
    # table equals batch bucketing bit-for-bit; the shared flag_anomalies
    # step over the materialized counts must then reproduce the registered
    # batch query exactly
    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.anomaly import (
        flag_anomalies,
        hourly_counts,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    batch_fn, _ = load_all()["events_anomaly"]
    expect = {
        (r.event_type, r.bucket_hour): r.c
        for r in batch_fn(spark, sf_dir).collect()
    }

    src = tmp_path / "anomaly_stream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(
        str(src)
    )
    q = (
        hourly_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("anomaly_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        counts = spark.table("anomaly_counts")
        batch_counts = {
            (r.event_type, r.bucket_hour): r.c
            for r in hourly_counts(ev).collect()
        }
        got_counts = {(r.event_type, r.bucket_hour): r.c for r in counts.collect()}
        # append mode only emits watermark-closed windows: the streamed
        # counts are a prefix of the batch counts (bit-identical where
        # emitted), missing at most the final watermark-span of windows
        assert got_counts
        for k, v in got_counts.items():
            assert batch_counts[k] == v
        missing = set(batch_counts) - set(got_counts)
        max_hour = max(h for _, h in batch_counts)
        assert all(h >= max_hour - 2 for _, h in missing)  # 2 h watermark
    finally:
        q.stop()
    # the shared flag step over the complete counts reproduces the
    # registered batch query exactly (same bucketing, same moments)
    got = {
        (r.event_type, r.bucket_hour): r.c
        for r in flag_anomalies(hourly_counts(ev)).collect()
    }
    assert got == expect
    assert got  # the detector actually flags something at this sf


def test_windowed_cms_stream_matches_batch_bytes(spark, tmp_path, sf_dir):
    # CMS merge is element-wise addition: the streamed per-window sketch
    # must equal the batch sketch BYTE-FOR-BYTE whatever the triggers did
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.sketches import windowed_cms

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    batch = {
        r.window_start: (bytes(r.cms_bytes), r.n_events)
        for r in windowed_cms(ev).collect()
    }
    src = tmp_path / "cms_stream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema("ts timestamp, user_id bigint").parquet(
        str(src)
    )
    q = (
        windowed_cms(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cms_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.window_start: (bytes(r.cms_bytes), r.n_events)
            for r in spark.sql("SELECT * FROM cms_out").collect()
        }
    finally:
        q.stop()
    assert got  # at least the watermark-closed windows emitted
    for k, v in got.items():
        assert batch[k] == v
    # and the sketch answers queries — the CMS guarantee is NO UNDERCOUNT:
    # each streamed window's estimate must be >= that window's exact count
    cms_cls = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    some_window, (blob, n) = max(got.items(), key=lambda kv: kv[1][1])
    cms = cms_cls.readFrom(blob)
    win_truth = (
        ev.filter(
            (F.unix_micros("ts") >= some_window * 1_000_000)
            & (F.unix_micros("ts") < some_window * 1_000_000 + 3_600_000_000)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .orderBy("user_id")
        .limit(5)
        .collect()
    )
    assert win_truth
    assert sum(r.c for r in win_truth) <= n
    for r in win_truth:
        assert cms.estimateCount(str(r.user_id)) >= r.c


def test_cdc_snapshot_sink_matches_batch_latest(spark, tmp_path, sf_dir):
    # the foreachBatch latest-wins merge over a finite stream must land on
    # exactly the batch latest_snapshot query's answer (the merge is a
    # semilattice fold: order/replay can't change it)
    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.snapshot import (
        read_snapshot,
        snapshot_sink,
    )

    fn, _ = load_all()["latest_snapshot"]
    expect = {
        r.user_id: (r.last_ts_us, r.last_event_type, r.last_value_cents)
        for r in fn(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tmp_path / "cdc_src"
    # several input files → several micro-batches with maxFilesPerTrigger
    ev.repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    snap_dir = str(tmp_path / "snapshot")
    q = snapshot_sink(stream, snap_dir, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.user_id: (r.last_ts_us, r.last_event_type, r.last_value_cents)
        for r in read_snapshot(spark, snap_dir).collect()
    }
    assert got == expect


def test_cdc_snapshot_replayed_batch_is_noop(spark, tmp_path, sf_dir):
    # foreachBatch is at-least-once: a crash between _publish and the
    # checkpoint commit re-delivers the same batch_id. The replay must be
    # a no-op (the pointer already names v{batch_id}) — without the guard
    # the rerun overwrites the directory it is lazily reading, which
    # Spark rejects, wedging recovery permanently.
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.snapshot import (
        merge_batch,
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    snap_dir = str(tmp_path / "snapshot_replay")
    import os as _os

    _os.makedirs(snap_dir, exist_ok=True)
    merge_batch(b0, 0, snap_dir)
    merge_batch(b1, 1, snap_dir)
    before = {tuple(r) for r in read_snapshot(spark, snap_dir).collect()}
    merge_batch(b1, 1, snap_dir)  # replay: must not raise, must not change
    after = {tuple(r) for r in read_snapshot(spark, snap_dir).collect()}
    assert after == before


def test_cdc_snapshot_frame_survives_next_merge(spark, tmp_path, sf_dir):
    # a reader holds a lazy scan of the version it resolved; the next
    # batch's publish must keep that version's files (one-version grace),
    # and after three batches exactly the current and one prior version
    # remain on disk
    import os

    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.snapshot import (
        merge_batch,
        read_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    snap_dir = str(tmp_path / "snapshot_grace")
    os.makedirs(snap_dir)
    merge_batch(ev.where(F.col("event_id") % 3 == 0), 0, snap_dir)
    held = read_snapshot(spark, snap_dir)
    n_held = held.count()
    merge_batch(ev.where(F.col("event_id") % 3 == 1), 1, snap_dir)
    assert len(held.collect()) == n_held > 0
    merge_batch(ev.where(F.col("event_id") % 3 == 2), 2, snap_dir)
    assert sorted(n for n in os.listdir(snap_dir) if n.startswith("v")) == [
        "v1",
        "v2",
    ]


def test_mg_heavy_hitters_containment_guarantee(spark, tmp_path, sf_dir):
    # Misra–Gries contract on the streamed summary: every key with true
    # count > N/k must be in the final candidate set, and every stored
    # count is a lower bound within N/k of the truth — regardless of how
    # the stream was chopped into triggers
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.heavy_hitters import (
        K_COUNTERS,
        mg_heavy_hitters_stream,
        mg_update,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    truth = {
        (r.event_type, r.user_id): r.c
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    totals = {}
    for (et, _), c in truth.items():
        totals[et] = totals.get(et, 0) + c

    src = tmp_path / "mg_src"
    ev.repartition(4).write.parquet(str(src))
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        mg_heavy_hitters_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mg_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM mg_out"
        ).collect()
    finally:
        q.stop()
    # update mode re-emits per trigger: keep the last emission per group
    # (highest n_processed)
    final = {}
    for r in rows:
        cur = final.get(r.event_type)
        if cur is None or r.n_processed > cur[0]:
            final[r.event_type] = (r.n_processed, {})
        if r.n_processed == final[r.event_type][0] and r.key is not None:
            final[r.event_type][1][r.key] = r.mg_count
    for et, (n, counters) in final.items():
        assert n == totals[et]
        slack = n / K_COUNTERS
        for (t_et, uid), c in truth.items():
            if t_et != et:
                continue
            if c > slack:
                assert uid in counters, (et, uid, c, slack)
            if uid in counters:
                assert counters[uid] <= c  # lower bound
                assert c - counters[uid] <= slack
    assert all(len(c) <= K_COUNTERS for _, c in final.values())


def test_mg_stream_equals_sequential_model_single_trigger(spark, tmp_path, sf_dir):
    # with ONE input file (one trigger) the _mg arrival order is exactly
    # event_id order, so the streamed counters must EQUAL the sequential
    # Misra-Gries model — a real equality, not a size bound
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.heavy_hitters import (
        mg_heavy_hitters_stream,
        mg_update,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    src = tmp_path / "mg_one"
    ev.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_id long, event_type string, user_id long"
    ).parquet(str(src))
    q = (
        mg_heavy_hitters_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mg_one_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM mg_one_out").collect()
    finally:
        q.stop()
    got = {}
    for r in rows:
        if r.key is not None:
            got.setdefault(r.event_type, {})[r.key] = r.mg_count
    by_type = {}
    for r in sorted(
        ev.collect(), key=lambda r: r.event_id
    ):
        model = by_type.setdefault(r.event_type, {})
        mg_update(model, int(r.user_id))
    assert set(got) <= set(by_type)
    for et, model in by_type.items():
        assert got.get(et, {}) == model


def test_ewma_stream_matches_batch_fold(spark, tmp_path, sf_dir):
    # streamed O(1)-state EWMA ≡ the batch strict fold, bit-for-bit,
    # when events arrive in (ts, event_id) order (single sorted source);
    # multi-trigger chopping must not change the fold
    from data_pipelines_worker_spark.queries.warehouse_queries import (
        q_ewma_events,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.ewma import ewma_stream

    batch = {
        r.user_id: (r.ewma_bits, r.n_events)
        for r in q_ewma_events(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
        .orderBy("ts_us", "event_id")
        .coalesce(1)
    )
    src = tmp_path / "ewma_events"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(
        "user_id long, ts_us long, event_id long, value double"
    ).parquet(str(src))
    q = (
        ewma_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.ewma_bits, r.n_events, r.n_late)
            for r in spark.sql("SELECT * FROM ewma_out").collect()
        }
    finally:
        q.stop()
    assert len(got) == len(batch)
    for uid, (bits, n) in batch.items():
        g_bits, g_n, g_late = got[uid]
        assert (g_bits, g_n) == (bits, n), uid
        assert g_late == 0


def test_ewma_stream_late_rows_counted_not_folded(spark, tmp_path):
    # a row at-or-before the last folded (ts, event_id) is excluded from
    # the fold and surfaces in n_late — never silently absorbed out of
    # order
    from data_pipelines_worker_spark.session import local_df
    from data_pipelines_worker_spark.streaming.ewma import ewma_stream

    src = tmp_path / "ewma_late_src"
    cols = "user_id long, ts_us long, event_id long, value double"
    first = local_df(
        spark,
        [(1, 1000, 1, 10.0), (1, 2000, 2, 20.0)],
        cols,
    )
    first.coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        ewma_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_late")
        .start()
    )
    try:
        q.processAllAvailable()
        # second file: one late row (ts 1500 < last folded 2000), one fresh
        late = local_df(
            spark,
            [(1, 1500, 3, 99.0), (1, 3000, 4, 40.0)],
            cols,
        )
        late.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM ewma_late ORDER BY n_events DESC LIMIT 1"
        ).collect()
    finally:
        q.stop()
    import math

    expect = ((10.0 * 0.5) * 0.5 + 20.0 * 0.5) * 0.5 + 40.0 * 0.5
    r = rows[0]
    assert r.n_events == 3
    assert r.n_late == 1
    assert r.ewma_bits == math.floor(expect * 34359738368)


def test_session_window_stream_matches_batch(spark, tmp_path, sf_dir):
    # native session_window aggregation ≡ its batch evaluation; append
    # mode only emits sessions fully past the watermark, so emitted rows
    # must be a consistent subset
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.windows import (
        session_windowed_stats,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    batch = {
        (r.session_start, r.user_id): (r.session_end, r.n_events, r.value_cents)
        for r in session_windowed_stats(ev).collect()
    }
    src = tmp_path / "sess_win_events"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, value double"
    ).parquet(str(src))
    q = (
        session_windowed_stats(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.session_start, r.user_id): (r.session_end, r.n_events, r.value_cents)
            for r in spark.sql("SELECT * FROM sess_win_out").collect()
        }
    finally:
        q.stop()
    assert got
    for k, v in got.items():
        assert batch[k] == v


def test_session_window_break_definition_matches_sessionizer(spark, sf_dir):
    # per-user session COUNTS agree between the native session_window
    # aggregate and the lag-based batch sessionization. The two differ
    # only at exact-boundary gaps (session_window half-open interval
    # breaks at gap >= 30 min; the lag query at gap > 30 min), so the
    # equality assertion first proves no exact-boundary gap exists in
    # this dataset — if one ever appears, the test fails loudly here
    # rather than with a confusing count mismatch
    from pyspark.sql import functions as FF

    from data_pipelines_worker_spark.queries.relational_queries import (
        q_sessionization,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.windows import (
        session_windowed_stats,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    native = {
        r.user_id: r.n
        for r in session_windowed_stats(ev)
        .groupBy("user_id")
        .agg(FF.count("*").alias("n"))
        .collect()
    }
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap = FF.col("ts").cast("double") - FF.lag(FF.col("ts").cast("double")).over(w)
    exact_boundary = ev.withColumn("g", gap).where(FF.col("g") == 1800.0).count()
    assert exact_boundary == 0, "dataset has an exact 30-min gap; semantics diverge"
    lag = {
        r.user_id: r.n
        for r in q_sessionization(spark, sf_dir)
        .groupBy("user_id")
        .agg(FF.countDistinct("session_no").alias("n"))
        .collect()
    }
    assert native == lag


def test_streaming_drift_histograms_match_batch_and_bound_exact_ks(
    spark, tmp_path, sf_dir
):
    # stateful half: the streamed (window, type, bin) histogram equals
    # batch bucketing bit-for-bit (counts are additive); analytic half:
    # binned KS from the shared step is a lower bound of the exact
    # per-type KS the registered batch query computes over the full grid
    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.drift import (
        binned_population_counts,
        ks_from_binned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", "user_id"
    )

    src = tmp_path / "drift_stream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double, user_id long"
    ).parquet(str(src))
    q = (
        binned_population_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_hist")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_type, r.bucket_hour, r.bin): (r.a, r.b)
            for r in spark.table("drift_hist").collect()
        }
        want = {
            (r.event_type, r.bucket_hour, r.bin): (r.a, r.b)
            for r in binned_population_counts(ev).collect()
        }
        assert got  # append mode emitted the watermark-closed windows
        for k, v in got.items():
            assert want[k] == v
        missing = set(want) - set(got)
        max_hour = max(h for _, h, _ in want)
        assert all(h >= max_hour - 2 for _, h, _ in missing)  # 2 h watermark
    finally:
        q.stop()

    # binned KS (whole table as one window: bucket the full frame) is a
    # lower bound of the exact registered statistic per event_type
    whole = binned_population_counts(
        ev.withColumn("ts", F.lit("2020-01-01 00:00:00").cast("timestamp"))
    )
    binned = {
        r.event_type: (r.ks_num, r.n_a, r.n_b)
        for r in ks_from_binned(whole).collect()
    }
    exact_fn, _ = load_all()["ks_drift_check"]
    exact = {
        r.event_type: (r.ks_num, r.n_a, r.n_b)
        for r in exact_fn(spark, sf_dir).collect()
    }
    assert set(binned) == set(exact)
    for et, (kb, na, nb) in binned.items():
        ke, ena, enb = exact[et]
        assert (na, nb) == (ena, enb)  # same populations
        assert kb <= ke  # coarsening never raises the statistic
        assert kb >= 0


def test_top_p_selection_stream_matches_batch(spark, tmp_path, sf_dir):
    # streaming manifest maintenance (score-store append + per-affected-
    # source recompute + crash-safe publish) ≡ the batch top_p_selection
    # query over the same corpus, column for column
    import __spark_entry__ as entrymod
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.selection import (
        read_manifest,
        selection_sink,
    )

    batch = {
        r.doc_id: (r.source, r.rank, r.n_tokens, r.cum_tokens, r.quality)
        for r in entrymod.queries()["top_p_selection"](spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    src = tmp_path / "docs_stream"
    # three files → three micro-batches under maxFilesPerTrigger=1
    docs.where("doc_id % 3 = 0").write.parquet(str(src / "a"))
    docs.where("doc_id % 3 = 1").write.parquet(str(src / "b"))
    docs.where("doc_id % 3 = 2").write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    store = str(tmp_path / "store")
    q = selection_sink(stream, store, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id: (r.source, r.rank, r.n_tokens, r.cum_tokens, r.quality)
        for r in read_manifest(spark, store).collect()
    }
    assert got == batch
    assert batch  # non-trivial selection


def test_top_p_selection_replay_is_idempotent(spark, tmp_path, sf_dir):
    # foreachBatch redelivers a batch whose publish ran but whose
    # checkpoint commit didn't: the replay guard must skip it outright
    # (no overwrite-while-reading, manifest unchanged)
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.selection import (
        merge_batch,
        read_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    store = str(tmp_path / "store")
    merge_batch(docs.where("doc_id < 100"), 0, store)
    merge_batch(docs.where("doc_id >= 100"), 1, store)
    before = sorted(
        map(tuple, read_manifest(spark, store).collect())
    )
    merge_batch(docs.where("doc_id >= 100"), 1, store)  # replay
    after = sorted(map(tuple, read_manifest(spark, store).collect()))
    assert after == before


@pytest.mark.slowsuite
def test_bootstrap_stream_matches_batch_fold(spark, tmp_path, sf_dir):
    # the 16-replicate Poisson fold is additive, so the streaming windowed
    # aggregation must equal the same function run as a batch frame —
    # bit-for-bit, under arbitrary trigger boundaries
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.bootstrap import (
        windowed_bootstrap_ci,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    batch = {
        (r.window_start, r.event_type): tuple(r)
        for r in windowed_bootstrap_ci(ev, window="6 hours").collect()
    }

    src = tmp_path / "ev_stream"
    ev.where("event_id % 2 = 0").write.parquet(str(src / "a"))
    ev.where("event_id % 2 = 1").write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        windowed_bootstrap_ci(stream, window="6 hours")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("boot_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.event_type): tuple(r)
            for r in spark.sql("SELECT * FROM boot_out").collect()
        }
    finally:
        q.stop()
    assert got == batch
    assert batch


def test_bootstrap_one_big_window_matches_batch_query(spark, sf_dir):
    # with one window spanning the whole corpus, the streaming face's
    # integer contract must coincide with the batch bootstrap_ci query
    # (different plan shape — window/rank vs sorted-array pick — same
    # values; ties are value-equal under either tie-break)
    import __spark_entry__ as entrymod
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.bootstrap import (
        windowed_bootstrap_ci,
    )

    batch = {
        r.event_type: (r.n, r.point_mean_c, r.n_boot, r.boot_lo_c, r.boot_hi_c)
        for r in entrymod.queries()["bootstrap_ci"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    got = {
        r.event_type: (r.n, r.point_mean_c, r.n_boot, r.boot_lo_c, r.boot_hi_c)
        for r in windowed_bootstrap_ci(ev, window="3650 days").collect()
    }
    assert got == batch
    assert batch


def test_bootstrap_all_empty_resample_group_is_dropped_not_crashed(spark):
    # a singleton group whose event_id draws weight 0 in all 16
    # replicates must be DROPPED (matching the batch query's sw > 0
    # filter), not crash element_at under ANSI — find such an id by
    # scanning the deterministic weight channel, then stream it
    from data_pipelines_worker_spark.queries.profiling_queries import (
        _BOOT_R,
        poisson_weight_col,
    )
    from data_pipelines_worker_spark.streaming.bootstrap import (
        windowed_bootstrap_ci,
    )
    from pyspark.sql import functions as F

    # precomputed offline (P(all-16-zero) = e^-16 ~ 1.1e-7, so scanning
    # in-test is hopeless); the assertion below re-verifies the property
    # through the production weight channel, so a constants change that
    # invalidates the id fails loudly here
    eid = 8984760
    wsum = (
        spark.range(1)
        .select(
            sum(
                poisson_weight_col(
                    F.lit(eid).cast("long") * _BOOT_R + F.lit(r) + 1
                )
                for r in range(_BOOT_R)
            ).alias("wsum")
        )
        .collect()[0]
        .wsum
    )
    assert wsum == 0, "precomputed id no longer draws all-zero weights"
    df = spark.createDataFrame(
        [
            (eid, "2024-01-01 00:30:00", "lonely", 5.0),
            (7, "2024-01-01 00:30:00", "normal", 5.0),
        ],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {r.event_type: r for r in windowed_bootstrap_ci(df).collect()}
    assert "lonely" not in rows  # dropped, exactly like the batch query
    assert "normal" in rows and rows["normal"].n_boot >= 1


def test_top_p_selection_reemitted_doc_uses_newest_score(spark, tmp_path, sf_dir):
    # a doc re-emitted in a later batch (re-crawl) must deterministically
    # resolve to its NEWEST score row via the batch partition column
    from data_pipelines_worker_spark.operators.selection import (
        score_docs,
        top_p_select,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.selection import (
        merge_batch,
        read_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    store = str(tmp_path / "store")
    merge_batch(docs, 0, store)
    # re-emit one doc with materially different text (cheap → short)
    target = docs.orderBy("doc_id").first()
    upd = spark.createDataFrame(
        [(target.doc_id, "tiny", target.source)],
        "doc_id long, text string, source string",
    )
    merge_batch(upd, 1, store)
    got = {
        r.doc_id: (r.n_tokens, r.quality)
        for r in read_manifest(spark, store).collect()
    }
    # expected manifest: batch-0 corpus with the target's row replaced
    updated = docs.where(F.col("doc_id") != target.doc_id).unionByName(upd)
    expect = {
        r.doc_id: (r.n_tokens, r.quality)
        for r in top_p_select(score_docs(updated)).collect()
    }
    assert got == expect
    if target.doc_id in got:
        assert got[target.doc_id][0] == 1  # the NEW 1-token score won


def test_top_p_selection_source_migration(spark, tmp_path, sf_dir):
    # a doc re-emitted under a DIFFERENT source must migrate: exactly one
    # manifest row for it (under the new source), and the old source's
    # selection recomputed without it — the streaming result must still
    # equal the batch kernel over the final corpus state
    from data_pipelines_worker_spark.operators.selection import (
        score_docs,
        top_p_select,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.selection import (
        merge_batch,
        read_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    store = str(tmp_path / "store")
    merge_batch(docs, 0, store)
    # move one high-signal doc to a different existing source
    sources = [r.source for r in docs.select("source").distinct().collect()]
    target = docs.orderBy("doc_id").first()
    new_source = next(s for s in sorted(sources) if s != target.source)
    upd = spark.createDataFrame(
        [(target.doc_id, target.text, new_source)],
        "doc_id long, text string, source string",
    )
    merge_batch(upd, 1, store)
    manifest = read_manifest(spark, store).collect()
    rows_for_doc = [r for r in manifest if r.doc_id == target.doc_id]
    # never double-counted: at most one row, and if present it carries
    # the NEW source
    assert len(rows_for_doc) <= 1
    for r in rows_for_doc:
        assert r.source == new_source
    # full equality with the batch kernel over the migrated corpus
    final = docs.where(F.col("doc_id") != target.doc_id).unionByName(upd)
    expect = {
        (r.source, r.doc_id): (r.rank, r.n_tokens, r.cum_tokens, r.quality)
        for r in top_p_select(score_docs(final)).collect()
    }
    got = {
        (r.source, r.doc_id): (r.rank, r.n_tokens, r.cum_tokens, r.quality)
        for r in manifest
    }
    assert got == expect


def test_top_p_selection_prune_keeps_previous_version(spark, tmp_path, sf_dir):
    # concurrent-reader grace: after batch N publishes, version N-1 must
    # still exist on disk (a reader that resolved the pointer pre-swap
    # holds a lazy scan of it); only older versions are pruned
    import os

    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.selection import merge_batch

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    store = str(tmp_path / "store")
    third = docs.where("doc_id % 3 = 0")
    for bid, frag in enumerate(
        [third, docs.where("doc_id % 3 = 1"), docs.where("doc_id % 3 = 2")]
    ):
        merge_batch(frag, bid, store)
    versions = sorted(
        n for n in os.listdir(os.path.join(store, "manifest"))
        if n.startswith("v") and n[1:].isdigit()
    )
    assert versions == ["v1", "v2"]  # current + one grace version, v0 pruned


@pytest.mark.slowsuite
def test_greedy_coverage_stream_matches_batch(spark, tmp_path, sf_dir):
    # streaming manifest maintenance (gram-store append + CELF upper-
    # bound gate + suffix recompute from versioned covered sets) ≡ the
    # batch greedy_coverage_selection query over the same final corpus
    import __spark_entry__ as entrymod
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.coverage import (
        merge_batch,
        read_manifest,
    )

    batch = {
        r.round: (r.doc_id, r.gain, r.covered_after)
        for r in entrymod.queries()["greedy_coverage_selection"](
            spark, sf_dir
        ).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    # three arbitrary disjoint batches — later ones contain long docs, so
    # the gate must trigger recomputes, not just carry-overs
    for bid, frag in enumerate(
        [
            docs.where("doc_id % 3 = 0"),
            docs.where("doc_id % 3 = 1"),
            docs.where("doc_id % 3 = 2"),
        ]
    ):
        merge_batch(frag, bid, store)
    got = {
        r.round: (r.doc_id, r.gain, r.covered_after)
        for r in read_manifest(spark, store).collect()
    }
    assert got == batch
    assert len(batch) == 3


@pytest.mark.slowsuite
def test_greedy_coverage_fast_path_carries_over(spark, tmp_path, sf_dir):
    # a batch whose best new doc cannot beat any incumbent gain must NOT
    # publish a new version (the CELF gate short-circuits); the manifest
    # still equals the batch kernel over the full corpus
    import os

    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.coverage import (
        merge_batch,
        read_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    merge_batch(docs, 0, store)
    before = sorted(os.listdir(os.path.join(store, "manifest")))
    tiny = spark.createDataFrame(
        [(10_000_000, "tiny doc two grams")], "doc_id long, text string"
    )
    merge_batch(tiny, 1, store)
    after = sorted(os.listdir(os.path.join(store, "manifest")))
    assert before == after  # no new version: gate carried over
    # and the standing picks are still the batch answer over docs+tiny
    from data_pipelines_worker_spark.operators.selection import (
        greedy_cover_rounds,
    )
    from data_pipelines_worker_spark.streaming.coverage import doc_grams

    tok = doc_grams(docs.unionByName(tiny))
    rows, _ = greedy_cover_rounds(tok, 3)
    expect = rows[0]
    for fr in rows[1:]:
        expect = expect.unionByName(fr)
    assert {tuple(r) for r in read_manifest(spark, store).collect()} == {
        tuple(r) for r in expect.collect()
    }


@pytest.mark.slowsuite
def test_greedy_coverage_replay_is_idempotent(spark, tmp_path, sf_dir):
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.coverage import (
        merge_batch,
        read_manifest,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    merge_batch(docs.where("doc_id % 2 = 0"), 0, store)
    merge_batch(docs.where("doc_id % 2 = 1"), 1, store)
    first = {tuple(r) for r in read_manifest(spark, store).collect()}
    merge_batch(docs.where("doc_id % 2 = 1"), 1, store)  # foreachBatch replay
    assert {tuple(r) for r in read_manifest(spark, store).collect()} == first


def test_greedy_coverage_versioned_covered_sets(spark, tmp_path, sf_dir):
    # the per-round cumulative covered sets are the manifest's versioned
    # state: round r's set size must equal the picks' covered_after
    import os

    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.coverage import (
        merge_batch,
        read_manifest,
    )
    from data_pipelines_worker_spark.streaming import versions

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    merge_batch(docs, 0, store)
    vdir = versions.current(os.path.join(store, "manifest"))
    for r in read_manifest(spark, store).collect():
        covered = spark.read.parquet(os.path.join(vdir, f"covered_r{r.round}"))
        assert covered.count() == r.covered_after


@pytest.mark.slowsuite
def test_merkle_tree_stream_matches_batch(spark, tmp_path, sf_dir):
    # incremental path recompute over 3 micro-batches (appends + an
    # upsert) must land on exactly the batch digest-tree of the final
    # corpus — the shared-kernel guarantee plus the path-invalidation
    # correctness claim
    from data_pipelines_worker_spark.operators import merkle as mk
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.merkle import (
        merge_batch,
        read_tree,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1)
    # batch 3: remaining docs PLUS an upsert rewriting one doc from b1
    # (pinned by id — limit(1) without order is nondeterministic across
    # the multiple actions this test runs; review fix)
    upd = b1.where(F.col("doc_id") == 0).select(
        "doc_id", F.lit("rewritten text").alias("text")
    )
    b3 = docs.where(F.col("doc_id") % 3 == 2).unionByName(upd)

    tree_dir = str(tmp_path / "merkle")
    c1 = merge_batch(b1, 0, tree_dir)
    c2 = merge_batch(b2, 1, tree_dir)
    c3 = merge_batch(b3, 2, tree_dir)
    assert c1 and c2 and c3

    final = docs.join(
        upd.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(upd)
    expect = {
        (r.lvl, r.node, r.d)
        for r in mk.digest_tree(mk.doc_fingerprints(final)).collect()
    }
    got = {(r.lvl, r.node, r.d) for r in read_tree(spark, tree_dir).collect()}
    assert got == expect

    # path economics: per batch, the recompute narrows geometrically up
    # the tree (level-k affected nodes = parents of level-(k-1) ones)
    for c in (c1, c2, c3):
        assert c[1] <= c[0] and c[2] <= c[1] and c[3] <= c[2]


def test_merkle_replayed_batch_is_noop(spark, tmp_path, sf_dir):
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.merkle import (
        merge_batch,
        read_tree,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tree_dir = str(tmp_path / "merkle")
    assert merge_batch(docs.limit(40), 0, tree_dir)
    before = {(r.lvl, r.node, r.d) for r in read_tree(spark, tree_dir).collect()}
    # at-least-once redelivery of the same batch_id: guarded no-op
    assert merge_batch(docs.limit(40), 0, tree_dir) is None
    after = {(r.lvl, r.node, r.d) for r in read_tree(spark, tree_dir).collect()}
    assert after == before


@pytest.mark.slowsuite
def test_merkle_sink_end_to_end(spark, tmp_path, sf_dir):
    # real Structured Streaming run (file source, availableNow) lands on
    # the batch tree of the whole corpus
    from data_pipelines_worker_spark.operators import merkle as mk
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.merkle import (
        merkle_sink,
        read_tree,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "merkle_src"
    docs.repartition(3).write.parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    tree_dir = str(tmp_path / "merkle_tree")
    q = merkle_sink(stream, tree_dir, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    expect = {
        (r.lvl, r.node, r.d)
        for r in mk.digest_tree(mk.doc_fingerprints(docs)).collect()
    }
    got = {(r.lvl, r.node, r.d) for r in read_tree(spark, tree_dir).collect()}
    assert got == expect


# --- streaming prefix-filter index (round 9) --------------------------------


@pytest.mark.slowsuite
def test_prefix_index_stream_matches_batch(spark, tmp_path, sf_dir):
    # cumulative streamed pair set == the batch AllPairs operator over the
    # same final corpus: the one-sided prefix probe (probe prefix vs FULL
    # standing index) misses nothing even though the global df order
    # drifts between batches
    from data_pipelines_worker_spark.operators.dedup import (
        allpairs_prefix_pairs,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.prefix_index import (
        doc_signatures,
        merge_batch,
        read_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expect = {
        (r.d1, r.d2, r.jaccard)
        for r in allpairs_prefix_pairs(
            docs, "doc_id", "text", threshold=0.6, k=3
        ).collect()
    }
    spark.catalog.clearCache()
    store = str(tmp_path / "store")
    for bid in range(3):
        merge_batch(
            doc_signatures(docs.where(f"doc_id % 3 = {bid}")), bid, store, 0.6
        )
    got = {(r.d1, r.d2, r.jaccard) for r in read_pairs(spark, store).collect()}
    assert got == expect
    assert len(expect) > 0  # the claim is vacuous on a pair-free corpus


def test_prefix_index_cross_batch_pair_under_df_drift(spark, tmp_path):
    # the adversarial case for any stored-prefix design: batch 1 indexes
    # doc A when its tokens are all rare; batch 2 floods the vocabulary
    # so A's old "rare" tokens become the most common ones (the rarest-
    # first order inverts), then ships a near-dup of A. A two-sided
    # stored-prefix index built under the old order could miss the pair;
    # the full-index/probe-prefix design must find it.
    from data_pipelines_worker_spark.streaming.prefix_index import (
        doc_signatures,
        merge_batch,
        read_pairs,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_a = a + " lambda"  # J = 8/9 on 3-shingles >= 0.6
    flood = [
        (100 + i, f"{a} filler{i} {a}") for i in range(20)
    ]  # every shingle of `a` becomes high-df
    b0 = spark.createDataFrame([(1, a)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(2, near_a)] + flood, "doc_id long, text string"
    )
    store = str(tmp_path / "store")
    merge_batch(doc_signatures(b0), 0, store, 0.6)
    merge_batch(doc_signatures(b1), 1, store, 0.6)
    got = {(r.d1, r.d2) for r in read_pairs(spark, store).collect()}
    assert (1, 2) in got


@pytest.mark.slowsuite
def test_prefix_index_replay_is_idempotent(spark, tmp_path, sf_dir):
    # foreachBatch re-delivers the last batch after a crash anywhere in
    # merge_batch: every write is an idempotent batch=<id> overwrite and
    # every standing read excludes the batch's own partition, so the
    # replay reproduces the state byte-for-byte
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.prefix_index import (
        doc_signatures,
        merge_batch,
        read_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    merge_batch(doc_signatures(docs.where("doc_id % 2 = 0")), 0, store, 0.6)
    merge_batch(doc_signatures(docs.where("doc_id % 2 = 1")), 1, store, 0.6)
    first = {tuple(r) for r in read_pairs(spark, store).collect()}
    dfv = spark.read.parquet(f"{store}/df/v1")
    df_first = {tuple(r) for r in dfv.collect()}
    merge_batch(  # replay
        doc_signatures(docs.where("doc_id % 2 = 1")), 1, store, 0.6
    )
    assert {tuple(r) for r in read_pairs(spark, store).collect()} == first
    assert {
        tuple(r) for r in spark.read.parquet(f"{store}/df/v1").collect()
    } == df_first


@pytest.mark.slowsuite
def test_prefix_index_weighted_stream_matches_batch(spark, tmp_path, sf_dir):
    # the index machinery is signature-agnostic: streamed over
    # multiplicity-EXPANDED signatures it maintains the exact WEIGHTED
    # Jaccard pair set — cumulative union == the batch
    # weighted_jaccard_pairs operator over the same final corpus
    from data_pipelines_worker_spark.operators.dedup import (
        weighted_jaccard_pairs,
    )
    from data_pipelines_worker_spark.session import load_table
    from data_pipelines_worker_spark.streaming.prefix_index import (
        merge_batch,
        read_pairs,
        weighted_doc_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expect = {
        (r.d1, r.d2, r.jaccard)
        for r in weighted_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.6, k=3
        ).collect()
    }
    spark.catalog.clearCache()
    store = str(tmp_path / "store")
    for bid in range(3):
        merge_batch(
            weighted_doc_signatures(docs.where(f"doc_id % 3 = {bid}")),
            bid,
            store,
            0.6,
        )
    got = {(r.d1, r.d2, r.jaccard) for r in read_pairs(spark, store).collect()}
    assert got == expect
    assert len(expect) > 0  # the claim is vacuous on a pair-free corpus
