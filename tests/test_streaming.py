"""Structured Streaming tail: same final state as batch replay; idempotent
across checkpoint wipes (the snapshot batch-id check, not Spark's checkpoint,
carries exactly-once)."""

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from tg_data_connector_spark.cdc import (
    ErrorLimit,
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


def _stage_parts(log, src_dir, groups):
    """One parquet file per group of source partitions: with
    maxFilesPerTrigger=1 every micro-batch is exactly one group."""
    for parts in groups:
        log.where(F.col("part").isin(*parts)).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)


def _stream_snapshots(table):
    """batch_id -> summary metrics of every micro-batch commit."""
    out = {}
    for v in table.history():
        summary = table.snapshot(v).summary
        if str(summary.get("batch_id", "")).startswith("stream:"):
            out[summary["batch_id"]] = summary.get("metrics", {})
    return out


def test_second_stream_with_its_own_checkpoint_applies(spark, tmp_path):
    """Spark numbers micro-batches from 0 for every checkpoint. A second
    stream into the same table, from its own source directory with its own
    checkpoint, must still apply its rows: a micro-batch's batch id carries
    the query id, so it cannot collide with the first stream's ids."""
    log = gen_changelog(spark, 2000, 300, n_parts=4)
    dir_a, dir_b = str(tmp_path / "log_a"), str(tmp_path / "log_b")
    _stage_parts(log, dir_a, [(0, 1)])
    _stage_parts(log, dir_b, [(2, 3)])
    seed = gen_seed_sequences(spark, 200)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA, "doc_id", 8)
    table.append(seed)
    eng = ReplayEngine(spark, table, ReplayConfig())
    q = stream_replay(spark, eng, dir_a, str(tmp_path / "ckpt_a"))
    assert q.awaitTermination(300)
    version = table.current_version()
    q = stream_replay(spark, eng, dir_b, str(tmp_path / "ckpt_b"))
    assert q.awaitTermination(300)
    assert table.current_version() > version
    assert set(table.snapshot().watermarks()) == {"0", "1", "2", "3"}
    assert len(_stream_snapshots(table)) == 2
    expected = oracle_final_state(seed, log)
    got = table.read().select("doc_id", "tokens", "n_tok", "source")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stream_micro_batch_accounting_is_exact(spark, tmp_path, monkeypatch):
    """A micro-batch runs the replay batch's apply path, observe() metrics
    included: each micro-batch's BatchReport, its snapshot's metrics and its
    lineage rows carry the exact dirty and winner counts, and the lineage
    holds one row per (micro-batch, part), written while the stream runs."""
    from tg_data_connector_spark.cdc.metrics import LineageLog
    from tg_data_connector_spark.cdc.quality import split_quarantine

    log = gen_changelog(spark, 3000, 400, n_parts=6)
    src_dir = str(tmp_path / "log")
    groups = [(0, 1), (2, 3), (4, 5)]
    _stage_parts(log, src_dir, groups)
    seed = gen_seed_sequences(spark, 200)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA, "doc_id", 8)
    table.append(seed)

    reports = {}
    apply_batch = ReplayEngine.apply_batch

    def recording(self, *args, **kwargs):
        rep = apply_batch(self, *args, **kwargs)
        reports[rep.batch_id] = rep
        return rep

    monkeypatch.setattr(ReplayEngine, "apply_batch", recording)
    eng = ReplayEngine(spark, table, ReplayConfig(error_limit=ErrorLimit()))
    q = stream_replay(
        spark, eng, src_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert q.awaitTermination(300)
    assert q.exception() is None

    lin = LineageLog(table.root).read(spark).collect()
    assert len({(r["batch_id"], r["part"]) for r in lin}) == len(lin) == 6
    assert sum(r["events"] for r in lin) == log.count()
    parts_of = {}
    for r in lin:
        parts_of.setdefault(r["batch_id"], set()).add(r["part"])
    assert sorted(map(sorted, parts_of.values())) == [list(g) for g in groups]

    snaps = _stream_snapshots(table)
    assert set(snaps) == set(reports) == set(parts_of)
    total_dirty = 0
    for bid, parts in parts_of.items():
        events = log.where(F.col("part").isin(*parts))
        clean, dirty = split_quarantine(events)
        n_dirty = dirty.count()
        n_winners = clean.select("doc_id").distinct().count()
        rep = reports[bid]
        assert (rep.dirty, snaps[bid]["dirty"]) == (n_dirty, n_dirty), bid
        assert (rep.deduped_keys, snaps[bid]["winners"]) == (
            n_winners, n_winners
        ), bid
        by_part = {r["part"]: r["dirty"] for r in lin if r["batch_id"] == bid}
        for p in parts:
            assert by_part[p] == dirty.where(F.col("part") == p).count()
        total_dirty += n_dirty
    assert total_dirty > 0  # the log really carries dirty rows

    expected = oracle_final_state(seed, log)
    got = table.read().select("doc_id", "tokens", "n_tok", "source")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stream_all_dirty_micro_batch_terminates(spark, tmp_path):
    """A micro-batch with no clean row: adaptive execution plans the kept
    branch away, the dirty observe() node with it, and the engine counts
    the dirty rows with one narrow job instead. The stream must finish
    (Observation.get must not block) and account every row as dirty."""
    log = (
        gen_changelog(spark, 400, 100, n_parts=2)
        .where(F.col("op") != "D")
        .withColumn("n_tok", F.col("n_tok") + 1)  # every event violates it
    )
    src_dir = str(tmp_path / "log")
    log.coalesce(1).write.parquet(src_dir)
    n = log.count()
    table = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA, "doc_id", 8)
    table.append(gen_seed_sequences(spark, 50))
    state = sorted(table.read().select("doc_id", "tokens").collect())
    eng = ReplayEngine(spark, table, ReplayConfig(error_limit=ErrorLimit()))
    q = stream_replay(spark, eng, src_dir, str(tmp_path / "ckpt"))
    done = q.awaitTermination(180)
    if not done:
        q.stop()
    assert done
    assert q.exception() is None
    [metrics] = _stream_snapshots(table).values()
    assert metrics["dirty"] == n and metrics["winners"] == 0
    assert sorted(table.read().select("doc_id", "tokens").collect()) == state


def test_stream_error_limit_breach_publishes_nothing(spark, tmp_path):
    """A micro-batch over the error limit fails the query after its write
    job and before its snapshot publishes: the table version and the
    watermarks stay where they were."""
    log = gen_changelog(spark, 2000, 300, n_parts=4)
    src_dir = str(tmp_path / "log")
    log.coalesce(1).write.parquet(src_dir)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA, "doc_id", 8)
    table.append(gen_seed_sequences(spark, 200))
    version, wm = table.current_version(), table.snapshot().watermarks()
    eng = ReplayEngine(spark, table, ReplayConfig(error_limit=ErrorLimit(record=0)))
    q = stream_replay(spark, eng, src_dir, str(tmp_path / "ckpt"))
    with pytest.raises(StreamingQueryException, match="ErrorLimitExceeded"):
        q.awaitTermination(180)
    assert table.current_version() == version
    assert table.snapshot().watermarks() == wm
    assert not _stream_snapshots(table)


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
