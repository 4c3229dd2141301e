"""Structured Streaming tail: same final state as batch replay; idempotent
across checkpoint wipes (the snapshot batch-id check, not Spark's checkpoint,
carries exactly-once)."""

from pyspark.sql import functions as F

from tg_data_connector_spark.cdc import (
    ReplayConfig,
    ReplayEngine,
    gen_changelog,
    gen_seed_sequences,
)
from tg_data_connector_spark.lake import LakeTable, TableSchema
from tg_data_connector_spark.streaming import stream_replay

from oracle import oracle_final_state

SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)


def test_stream_tail_matches_oracle(spark, tmp_path):
    log = gen_changelog(spark, 2000, 300, n_parts=4)
    src_dir = str(tmp_path / "log")
    # several files -> several micro-batches with maxFilesPerTrigger
    log.repartition(6).write.parquet(src_dir)
    seed = gen_seed_sequences(spark, 200)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA, "doc_id", 8)
    table.append(seed)
    eng = ReplayEngine(spark, table, ReplayConfig())
    q = stream_replay(
        spark, eng, src_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    q.awaitTermination(300)
    expected = oracle_final_state(seed, spark.read.parquet(src_dir))
    got = table.read().select("doc_id", "tokens", "n_tok", "source")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # wipe the Spark checkpoint and re-run the whole stream: the snapshot
    # batch-id/LWW machinery must make every re-delivered micro-batch a no-op
    state = sorted(got.collect())
    q2 = stream_replay(
        spark, eng, src_dir, str(tmp_path / "ckpt2"), max_files_per_trigger=2
    )
    q2.awaitTermination(300)
    assert sorted(table.read().select("doc_id", "tokens", "n_tok", "source").collect()) == state


def test_stream_tail_mor_matches_oracle(spark, tmp_path):
    """The streaming tail composes with the merge-on-read write path: each
    micro-batch appends delta files (O(batch), no base rewrite — the shape a
    continuous tail wants), auto-compaction bounds delta depth mid-stream,
    and the final resolved state equals the window oracle."""
    log = gen_changelog(spark, 2000, 300, n_parts=4)
    src_dir = str(tmp_path / "log")
    log.repartition(6).write.parquet(src_dir)
    seed = gen_seed_sequences(spark, 200)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA, "doc_id", 8)
    table.append(seed)
    eng = ReplayEngine(
        spark, table, ReplayConfig(merge_mode="mor", mor_compact_after=2)
    )
    q = stream_replay(
        spark, eng, src_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    q.awaitTermination(300)
    from tg_data_connector_spark.lake.maintain import delta_depths

    assert max(delta_depths(table.snapshot()).values(), default=0) <= 2
    expected = oracle_final_state(seed, spark.read.parquet(src_dir))
    got = table.read().select("doc_id", "tokens", "n_tok", "source")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions closed by the event-time
    watermark must match the batch gap-sessionizer for the same events."""
    import pandas as pd

    from tg_data_connector_spark.streaming.stateful import sessionize_stream

    GAP = 1800
    base = 1_700_000_000
    rows = []
    for u in (1, 2):
        # session A: 3 events inside the gap; session B: 2 events much later;
        # then a far-future flush event that pushes the watermark past B+gap
        rows += [
            (u, base + 0), (u, base + 600), (u, base + 1200),
            (u, base + 10_000), (u, base + 10_300),
            (u, base + 100_000),
        ]
    src_dir = str(tmp_path / "events")
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch"])
    df = spark.createDataFrame(pdf).select(
        F.col("user_id").cast("bigint"),
        F.col("epoch").cast("timestamp").alias("ts"),
    )
    df.coalesce(1).write.parquet(src_dir)

    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src_dir)
    out = sessionize_stream(stream, "ts", gap_sec=GAP, watermark="10 seconds")
    sink = str(tmp_path / "out")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r)
        for r in spark.read.schema(
            "user_id bigint, session_start bigint, session_end bigint, n_events bigint"
        ).parquet(sink).collect()
    )
    # closed sessions (the final base+100000 event stays open — watermark
    # never passes it): A(3 events) and B(2 events) per user
    expected = sorted(
        [(u, base, base + 1200, 3) for u in (1, 2)]
        + [(u, base + 10_000, base + 10_300, 2) for u in (1, 2)]
    )
    assert got == expected


def test_stateful_sessionize_stream_matches_batch_sf001(spark, tmp_path):
    """Replay the sf0.01 events table through the stateful streaming
    sessionizer and pin its closed sessions against the batch `sessionize`
    gate query: every closed session must be a batch session, and every batch
    session except a user's LAST (which stays open — the watermark never
    passes it) must have closed."""
    from pyspark.sql import Window

    from tg_data_connector_spark.gate import q_sessionize
    from tg_data_connector_spark.streaming.stateful import sessionize_stream

    sf_dir = "/root/testdata/sf0.01"
    batch = q_sessionize(spark, sf_dir).select(
        "user_id",
        F.col("start_epoch").alias("session_start"),
        F.col("end_epoch").alias("session_end"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("session_id"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("session_id").desc())
    batch_rows = batch.withColumn("rk", F.row_number().over(w)).collect()
    all_sessions = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_rows
    }
    non_last = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_rows
        if r["rk"] > 1
    }

    src = str(tmp_path / "events_src")
    spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("bigint"), F.col("ts").cast("timestamp")
    ).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    out = sessionize_stream(stream, "ts", gap_sec=1800, watermark="10 seconds")
    sink = str(tmp_path / "sessions_out")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.schema(
            "user_id bigint, session_start bigint, session_end bigint, "
            "n_events bigint"
        ).parquet(sink).collect()
    }
    assert got <= all_sessions          # nothing invented
    assert non_last <= got              # everything closeable closed
    assert len(got) >= len(non_last) > 0


def test_stream_dedup_ingest_index_and_keepset_stable(spark, tmp_path):
    """Micro-batched dedup ingest: classifications land per batch partition,
    the index is exactly-once under re-delivery (wiped checkpoint), and the
    keep-set (doc_id == canonical_id) is identical across deliveries."""
    from tg_data_connector_spark.operators.dedup_text import create_dedup_index
    from tg_data_connector_spark.streaming.foreach import stream_dedup_ingest

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    idx = create_dedup_index(spark, str(tmp_path / "idx"), n_buckets=4)
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(10, "beta"), (11, "gamma")], "doc_id bigint, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    q = stream_dedup_ingest(
        spark, idx, src, str(tmp_path / "ck1"), out, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    res = spark.read.parquet(out)
    assert res.count() == 5
    by_id = {r["doc_id"]: r for r in res.collect()}
    assert by_id[3]["canonical_id"] == "1"  # alpha's first occurrence
    assert by_id[10]["canonical_id"] in ("2", "10")  # file order per batch
    assert idx.read().count() == 3  # alpha, beta, gamma
    keep1 = sorted(
        r["doc_id"] for r in res.collect()
        if str(r["doc_id"]) == r["canonical_id"]
    )
    idx_state = sorted(idx.read().collect())
    v = idx.current_version()

    # redelivery: wipe the Spark checkpoint, rerun the whole source
    q2 = stream_dedup_ingest(
        spark, idx, src, str(tmp_path / "ck2"), out, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    res2 = spark.read.parquet(out)
    assert sorted(idx.read().collect()) == idx_state  # index exactly-once
    keep2 = sorted(
        r["doc_id"] for r in res2.collect()
        if str(r["doc_id"]) == r["canonical_id"]
    )
    assert keep1 == keep2  # keep-set stable; only status labels degrade
