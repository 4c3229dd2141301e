"""Structured Streaming front-end for the replay engine.

The reference is strictly batch (SURVEY §2.7) — its "continuous" story is
re-running job.json. The north rule's continuous change-log tail maps to a
Structured Streaming source feeding ``foreachBatch``: each micro-batch flows
through the exact same apply path (quarantine -> LWW dedup -> MERGE -> snapshot
commit), so batch replay and streaming tail are the same engine with different
drivers — and the snapshot summary watermarks make the sink idempotent even
when Spark replays a micro-batch after a failure (foreachBatch is
at-least-once; the snapshot's applied-batch-id check upgrades it to
exactly-once, the same trick Delta/Iceberg streaming sinks use). A
micro-batch's batch id is ``stream:<query id>:<micro-batch id>``: Spark
numbers micro-batches from 0 per checkpoint, and the query id, stored in
the checkpoint, tells two streams into the same table apart.

Rate throttling (the reference's ``Channel.statPush`` byte/record limits,
``Channel.java:176-239``) maps to ``maxFilesPerTrigger`` here.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..cdc.replay import ReplayEngine
from ..lake.table import LakeTable


def changelog_stream_schema(with_payload: bool = False) -> str:
    base = (
        "event_id bigint, op string, commit_lsn bigint, seq_no bigint, "
        "doc_id string, {tok} n_tok int, source string, part int, offset bigint"
    )
    return base.format(
        tok="payload binary," if with_payload else "tokens array<int>,"
    )


def stream_replay(
    spark: SparkSession,
    engine: ReplayEngine,
    source_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Tail a parquet-file changelog directory as a stream and apply each
    micro-batch through the engine. Returns the StreamingQuery.

    Exactly-once: Spark's checkpoint dedups source files, and a micro-batch
    re-delivered under the same checkpoint (same query id, same micro-batch
    id) is skipped by the snapshot's applied-batch-id check. A wiped
    checkpoint starts a new query id, so its micro-batches apply again; each
    re-applied event is a version the table already holds, which LWW (or a
    columnwise table's read-time fold, which collapses (key, version)
    duplicates) absorbs. The table ends in the same state.
    """
    if getattr(engine, "_partial", False) and engine.cfg.merge_mode != "mor":
        # a file-split micro-batch can interleave version ranges with its
        # neighbors, and the COW columnwise merge folds each batch against a
        # target that has no per-column versions — only LSN-ordered windows
        # are sound there. MoR appends raw events and defers the fold to the
        # reader, which is exact under any delivery order — require it.
        raise ValueError(
            "streaming with a columnwise resolution requires "
            "merge_mode='mor': micro-batches are file-split and can "
            "interleave version ranges, which the COW per-batch collapse "
            "cannot express"
        )
    reader = (
        spark.readStream.schema(
            changelog_stream_schema(with_payload=engine.cfg.parse_payload)
        )
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def apply(batch_df, batch_id: int):
        # Every frame of the micro-batch is built on foreachBatch's cloned
        # session: an Observation completes only on the session of the frame
        # it observes, and a join with a frame of the engine's session (the
        # COW merge reads the table) would run the whole write job there,
        # leaving Observation.get blocked forever. So each micro-batch gets
        # its own engine over a table handle on the clone session and runs
        # exactly the code a replay() batch runs; its lineage rows flush
        # with it (a driver-side write).
        s = batch_df.sparkSession
        t = engine.table
        eng = ReplayEngine(s, LakeTable(s, t.root, fs=t.fs, ref=t.ref), engine.cfg)
        query_id = s.sparkContext.getLocalProperty("sql.streaming.queryId")
        eng.apply_batch(batch_df, batch_id=f"stream:{query_id}:{batch_id}")
        eng.lineage.flush(s)

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_ingest(
    spark: SparkSession,
    index,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: str = "doc_id bigint, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    broadcast_probe: bool = True,
):
    """Continuous-ingest dedup: tail a document directory as a stream; each
    micro-batch classifies against the corpus fingerprint index
    (``operators/dedup_text.dedup_incremental``), absorbs its fresh
    fingerprints, and writes the classification to ``out_dir`` partitioned
    by micro-batch (dynamic partition overwrite, so a re-delivered batch
    REPLACES its own output instead of appending duplicates).

    Idempotence contract under foreachBatch's at-least-once delivery: the
    INDEX is exactly-once (a re-delivered batch's fingerprints are already
    present; the merge is a first-seen LWW tie and changes nothing), and
    ``canonical_id`` is stable — so the keep-set
    ``doc_id == canonical_id`` is identical across deliveries. Only the
    ``status`` label of a re-delivered batch's first-occurrences degrades
    from ``kept`` to ``dup_in_corpus`` (they now match their own earlier
    insert), which consumers of the keep-set never observe.
    """
    from ..operators.dedup_text import dedup_incremental

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def apply(batch_df, batch_id: int):
        out = dedup_incremental(
            index, batch_df, id_col=id_col, text_col=text_col,
            batch_lsn=batch_id + 1, broadcast_probe=broadcast_probe,
        )
        (
            out.withColumn("_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_view_maintenance(
    spark: SparkSession,
    src,
    view,
    group_by: list[str],
    measures: dict,
    checkpoint_dir: str,
    source_name: str = "src",
    available_now: bool = True,
):
    """Continuous materialized-view maintenance: tail ``src``'s change feed
    (the lake_cdf streaming source) and advance the aggregate view once per
    micro-batch via ``lake.mview.refresh_aggregate``. Returns the
    StreamingQuery. The lake_cdf source refuses a columnwise ``src``
    (resolution ``partial`` / ``aggregate``), so this fails at start for
    one; batch ``refresh_aggregate`` maintains such a view.

    The stream is the TRIGGER, not the data path: each callback refreshes up
    to the batch's highest ``_commit_version``, and the refresh re-derives
    its exact window from the view's own stored cursor — so a re-delivered
    micro-batch (restart, or even a wiped Spark checkpoint) is absorbed by
    the cursor + batch-id and can never double-apply a delta. The batch
    DataFrame itself is only probed for its version high-mark (one bounded
    agg), keeping stream-side and batch-side maintenance on the SAME audited
    code path instead of two implementations that could drift.
    """
    from ..lake.mview import refresh_aggregate
    from .cdf_source import read_change_stream

    # open the feed at the VIEW's cursor (not "now"): commits that landed
    # before the stream started still trigger their refresh
    cursor = int(
        view.snapshot().summary.get(f"mview_from:{source_name}", 0)
    )
    stream = read_change_stream(spark, src.root, starting_version=cursor)

    def apply(batch_df, batch_id: int):
        hi = batch_df.agg(F.max("_commit_version")).collect()[0][0]
        if hi is not None:
            refresh_aggregate(
                src, view, group_by, measures,
                source_name=source_name, to_version=int(hi),
            )

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
