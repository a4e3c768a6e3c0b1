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
    stage_store.write_stage(df, str(tmp_path), "p", "x", "b")
    path = stage_store.stage_path(str(tmp_path), "p", "x", "b")
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


def test_merge_stage_keeps_file_count(spark, tmp_path):
    # target-index merge: the stored rows of the other indices plus the
    # recomputed one, swapped in by rename. A one-file stage stays one
    # file; a stage of one index per file (a request fan-out) keeps its
    # file count.
    import os

    for files in (1, 3):
        block = f"b{files}"
        path = stage_store.stage_path(str(tmp_path), "p", "x", block)
        rows = [(i, 0, f"old{i}", None, None) for i in range(3)]
        df = spark.createDataFrame(rows, stage_store.STAGE_SCHEMA)
        df = df.repartitionByRange(files, "input_index")
        stage_store.write_stage(df, str(tmp_path), "p", "x", block)
        assert len([f for f in os.listdir(path) if f.startswith("part-")]) == files
        new = spark.createDataFrame([(1, 0, "new1", None, None)], stage_store.STAGE_SCHEMA)
        merged = stage_store.merge_stage(new, str(tmp_path), "p", "x", block, 1)
        assert sorted((r.input_index, r.payload_str) for r in merged.collect()) == [
            (0, "old0"), (1, "new1"), (2, "old2")
        ]
        assert len([f for f in os.listdir(path) if f.startswith("part-")]) == files
    assert sorted(os.listdir(tmp_path / "p" / "x")) == ["b1", "b3"]  # no staging left


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
