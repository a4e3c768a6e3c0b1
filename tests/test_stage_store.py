from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_worker_spark.sources import stage_store


def test_stage_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, 0, "hello", None, "text/plain")],
        stage_store.STAGE_SCHEMA,
    )
    stage_store.write_stage(df, str(tmp_path), "p", "proc1", "b")
    back = stage_store.read_stage(spark, str(tmp_path), "p", "proc1", "b")
    assert back.collect() == df.collect()


def test_stage_roundtrip_non_file_uri(spark, tmp_path):
    # "root is any Hadoop-filesystem URI" (write_stage docstring / the
    # reference's MinIO role, types/storage.go:207-368) — exercised through
    # a genuinely non-file: scheme. viewfs:// resolves via Hadoop's
    # client-side mount table (the same FileSystem plumbing an s3a:// root
    # rides), so the stage path goes URI → FileSystem.get(scheme) → write
    # → read instead of the local-path fast path.
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.stagetest.link./stages",
        tmp_path.as_uri(),
    )
    root = "viewfs://stagetest/stages"
    df = spark.createDataFrame(
        [(0, 0, None, b"\x89PNG_payload", "image/png"),
         (1, 0, "text out", None, "text/plain")],
        stage_store.STAGE_SCHEMA,
    )
    stage_store.write_stage(df, root, "p", "proc-uri", "b")
    back = stage_store.read_stage(spark, root, "p", "proc-uri", "b")
    assert sorted(back.collect()) == sorted(df.collect())
    # the bytes really landed under the mounted local dir
    assert (tmp_path / "p" / "proc-uri" / "b").exists()


def test_sniff_mime_magic_bytes(spark):
    cases = [
        (b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, "image/png"),
        (b"\xff\xd8\xff\xe0rest", "image/jpeg"),
        (b"GIF89a.....", "image/gif"),
        (b"ID3\x04tag", "audio/mpeg"),
        (b"RIFF\x00\x00\x00\x00WAVEfmt ", "audio/wav"),
        (b"\x00\x00\x00\x18ftypmp42", "video/mp4"),
        (b'{"a": 1}', "application/json"),
        (b"[1, 2]", "application/json"),
        (b"plain words", "text/plain"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "payload binary")
    out = df.select(stage_store.sniff_mime(F.col("payload")).alias("m")).collect()
    assert [r.m for r in out] == [c[1] for c in cases]


def test_local_df_edge_cases(spark):
    # control-plane frame helper: LocalRelation for empty/binary/null rows
    from data_pipelines_worker_spark.session import local_df

    assert local_df(spark, [], "a long, b string").count() == 0
    row = local_df(spark, [(1, b"xy")], "i long, p binary").first()
    assert bytes(row.p) == b"xy"
    assert local_df(spark, [(None, "x")], "a long, b string").first().a is None
    # and it really is a LocalTableScan (no parallelized Python RDD)
    plan = local_df(spark, [(1, "a")], "i long, s string")._jdf.queryExecution()
    assert "LocalTableScan" in plan.executedPlan().toString()


def test_compact_stage_reduces_files_and_preserves_rows(spark, tmp_path):
    from data_pipelines_worker_spark.sources import stage_store
    import os

    df = spark.range(0, 10_000, 1, 32).selectExpr(
        "id AS input_index",
        "CAST(0 AS LONG) AS output_index",
        "CAST(id AS STRING) AS payload_str",
    )
    # a stage of many small files, as a wide Spark write leaves one
    # (write_stage publishes one file)
    path = stage_store.stage_path(str(tmp_path), "p", "x", "b")
    df.write.parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before > 1  # 32 partitions → many small files

    n = stage_store.compact_stage(spark, str(tmp_path), "p", "x", "b")
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert after == n == 1
    got = stage_store.read_stage(spark, str(tmp_path), "p", "x", "b")
    assert got.count() == 10_000
    assert got.agg({"input_index": "sum"}).first()[0] == sum(range(10_000))


def _sink_batch(df, path, batch_id):
    # what streaming/sink.py's foreachBatch writer does per micro-batch
    df.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")


def test_compact_streamed_stage_preserves_partition_layout(spark, tmp_path):
    # ADVICE r3 (medium): compaction of a streamed stage must keep the
    # batch=<id> partitioned layout so a resuming sink's next micro-batch
    # doesn't create "Conflicting directory structures".
    import os

    path = stage_store.stage_path(str(tmp_path), "p", "x", "s")
    for b in range(3):
        df = spark.range(b * 100, (b + 1) * 100, 1, 4).selectExpr(
            "id AS input_index",
            "CAST(0 AS LONG) AS output_index",
            "CAST(id AS STRING) AS payload_str",
        )
        _sink_batch(df, path, b)

    stage_store.compact_stage(spark, str(tmp_path), "p", "x", "s")
    dirs = sorted(d for d in os.listdir(path) if d.startswith("batch="))
    # committed epochs 0,1 merged into batch=-1; last epoch kept under its id
    assert dirs == ["batch=-1", "batch=2"]

    # inferred and given schema alike: partition discovery still surfaces
    # the sink's `batch` column under a given schema, and it is dropped
    schemas = (None, stage_store.STAGE_SCHEMA)
    for schema in schemas:
        got = stage_store.read_stage(spark, str(tmp_path), "p", "x", "s", schema)
        assert got.count() == 300
        assert "batch" not in got.columns

    # replay of the last (possibly-uncommitted) epoch overwrites its own
    # directory — no duplication against the merged data
    df2 = spark.range(200, 300).selectExpr(
        "id AS input_index",
        "CAST(0 AS LONG) AS output_index",
        "CAST(id AS STRING) AS payload_str",
    )
    _sink_batch(df2, path, 2)
    # and the resumed sink keeps appending new epochs next to the layout
    df3 = spark.range(300, 350).selectExpr(
        "id AS input_index",
        "CAST(0 AS LONG) AS output_index",
        "CAST(id AS STRING) AS payload_str",
    )
    _sink_batch(df3, path, 3)
    for schema in schemas:
        got = stage_store.read_stage(spark, str(tmp_path), "p", "x", "s", schema)
        assert "batch" not in got.columns
        assert got.count() == 350
        assert got.agg({"input_index": "sum"}).first()[0] == sum(range(350))


def test_read_stage_keeps_legit_batch_data_column(spark, tmp_path):
    # ADVICE r3 (low): only a *discovered partition* column named `batch`
    # is sink bookkeeping; a data column with that name must survive.
    df = spark.createDataFrame(
        [(0, 0, "a", 7), (1, 0, "b", 8)],
        "input_index long, output_index long, payload_str string, batch long",
    )
    stage_store.write_stage(df, str(tmp_path), "p", "x", "d")
    got = stage_store.read_stage(spark, str(tmp_path), "p", "x", "d")
    assert "batch" in got.columns
    assert sorted(r.batch for r in got.collect()) == [7, 8]


def test_written_stage_reopens_with_its_schema(spark, tmp_path):
    # write_stage hands back the stage read with the schema it was written
    # with: the same frame a schema-inferring read gives
    df = spark.createDataFrame(
        [(0, 0, None, b"\x89PNG", "image/png"), (1, 0, "x", None, "text/plain")],
        stage_store.STAGE_SCHEMA,
    )
    back = stage_store.write_stage(df, str(tmp_path), "p", "x", "b")
    inferred = stage_store.read_stage(spark, str(tmp_path), "p", "x", "b")
    assert back.schema == inferred.schema
    assert sorted(back.collect()) == sorted(inferred.collect()) == sorted(df.collect())


def test_merge_gives_one_file_and_leaves_no_staging(spark, tmp_path):
    # target-index merge: the stored rows of the other indices plus the
    # recomputed one, published as one file in place of the files it read,
    # for a published stage and a 3-file Spark-written one
    import os

    rows = [(i, 0, f"old{i}", None, None) for i in range(3)]
    df = spark.createDataFrame(rows, stage_store.STAGE_SCHEMA)
    stage_store.write_stage(df, str(tmp_path), "p", "x", "published")
    written = stage_store.stage_path(str(tmp_path), "p", "x", "spark3")
    df.repartitionByRange(3, "input_index").write.parquet(written)
    assert len([f for f in os.listdir(written) if f.startswith("part-")]) == 3
    for block in ("published", "spark3"):
        path = stage_store.stage_path(str(tmp_path), "p", "x", block)
        new = spark.createDataFrame([(1, 0, "new1", None, None)], stage_store.STAGE_SCHEMA)
        merged = stage_store.merge_stage(new, str(tmp_path), "p", "x", block, 1)
        want = [(0, "old0"), (1, "new1"), (2, "old2")]
        assert [(r.input_index, r.payload_str) for r in merged.collect()] == want
        stored = stage_store.read_stage(spark, str(tmp_path), "p", "x", block)
        assert sorted((r.input_index, r.payload_str) for r in stored.collect()) == want
        assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 1
        assert "_SUCCESS" in os.listdir(path)
    assert sorted(os.listdir(tmp_path / "p" / "x")) == ["published", "spark3"]


def test_list_processings_non_file_uri(spark, tmp_path):
    # the processing listing serves every root write_status accepts; the
    # viewfs mount is the one test_stage_roundtrip_non_file_uri uses
    from data_pipelines_worker_spark.sources import run_log

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.viewfs.mounttable.statustest.link./stages", tmp_path.as_uri())
    root = "viewfs://statustest/stages"
    for pid in ("proc-b", "proc-a"):
        run_log.write_status(spark, root, "p", pid, {"b": "completed"}, ["b"])
    assert run_log.list_processings(spark, root, "p") == ["proc-a", "proc-b"]
    assert run_log.list_processings(spark, root, "absent") == []
    rows = run_log.read_statuses(spark, root, "p").collect()
    assert sorted((r.processing_id, r.status) for r in rows) == [
        ("proc-a", "completed"), ("proc-b", "completed")
    ]


def test_written_stage_is_in_memory(spark, tmp_path):
    # the next block reads the stage it is handed from memory: no Parquet
    # scan, in min(rows, defaultParallelism) partitions (the rule request
    # fan-outs from session.local_df follow)
    dp = spark.sparkContext.defaultParallelism
    for n in (1, 3, dp + 5):
        df = spark.range(n).selectExpr(
            "id AS input_index", "CAST(0 AS LONG) AS output_index", "'x' AS payload_str"
        )
        back = stage_store.write_stage(df, str(tmp_path), "p", "x", f"b{n}")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "FileScan" not in plan, plan
        assert back.rdd.getNumPartitions() == min(n, dp)
        assert back.count() == n


def test_large_binary_payload_roundtrip_non_file_uri(spark, tmp_path):
    # an 8 MB payload through write_stage, merge_stage and read_stage on a
    # viewfs root, byte for byte
    import random

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.viewfs.mounttable.bigtest.link./stages", tmp_path.as_uri())
    root = "viewfs://bigtest/stages"
    rnd = random.Random(7)
    big = [rnd.randbytes(8 << 20) for _ in range(2)]
    df = spark.createDataFrame(
        [(0, 0, None, big[0], "application/octet-stream"), (1, 0, "small", None, None)],
        stage_store.STAGE_SCHEMA,
    )
    back = stage_store.write_stage(df, root, "p", "big", "b")
    assert bytes(back.where("input_index = 0").first().payload_bin) == big[0]
    new = spark.createDataFrame(
        [(1, 0, None, big[1], "application/octet-stream")], stage_store.STAGE_SCHEMA
    )
    merged = stage_store.merge_stage(new, root, "p", "big", "b", 1)
    stored = stage_store.read_stage(spark, root, "p", "big", "b", stage_store.STAGE_SCHEMA)
    for frame in (merged, stored):
        rows = sorted(frame.collect())
        assert [bytes(r.payload_bin) for r in rows] == big
    assert (tmp_path / "p" / "big" / "b" / "_SUCCESS").exists()


def test_stage_above_result_budget_is_refused(spark, tmp_path):
    # a runner stage is collected to the driver: one above
    # spark.driver.maxResultSize fails with StageTooLarge and publishes
    # nothing. The limit is read per job from the live SparkConf, so it is
    # lowered to 1 MiB for this stage only.
    import pytest

    payload = bytes(700 << 10)
    df = spark.createDataFrame(
        [(i, 0, None, payload, None) for i in range(4)], stage_store.STAGE_SCHEMA
    ).repartition(4)
    conf = spark.sparkContext._jsc.sc().conf()
    before = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", "1m")
    try:
        with pytest.raises(stage_store.StageTooLarge, match="maxResultSize"):
            stage_store.write_stage(df, str(tmp_path), "p", "big", "b")
    finally:
        conf.set("spark.driver.maxResultSize", before)
    assert not (tmp_path / "p").exists()
    back = stage_store.write_stage(df, str(tmp_path), "p", "big", "b")
    assert back.count() == 4
