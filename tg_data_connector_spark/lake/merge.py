"""MERGE upsert with last-writer-wins (LWW) resolution.

Implements the Iceberg-``MERGE INTO`` semantics the north rule requires:
  matched + source newer + op in (I, U)  -> UPDATE (replace payload, bump lineage)
  matched + source newer + op = D        -> DELETE
  matched + source older/equal           -> keep target row (late event ignored)
  not matched + op in (I, U)             -> INSERT
  not matched + op = D                   -> no-op (delete of absent key)

"Newer" is the lexicographic order on (commit_lsn, seq_no) — the reference's
upsert is MySQL ``INSERT ... ON DUPLICATE KEY UPDATE`` built in
``plugin-rdbms-util/.../writer/util/WriterUtil.java:148-168``, which is
last-arrival-wins; we strengthen it to LWW on an explicit version pair so
out-of-order and retried batches converge to the same state.

Scale strategy (copy-on-write at bucket granularity):
  * the source batch is deduplicated to ONE row per key (precondition — Iceberg
    MERGE has the same cardinality requirement; ``cdc/dedup.py`` enforces it);
  * only buckets containing source keys are read and rewritten — at 10^10 rows
    in 2^k buckets a batch touching b buckets scans b/2^k of the table;
  * the join is a full-outer on the key *within co-bucketed data*: both sides are
    repartitioned by the same bucket expression, so AQE plans a shuffle join whose
    effective width is the batch, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    SEQ_COL,
    CommitConflict,
    LakeTable,
    Snapshot,
    bucket_expr,
)

OP_COL = "op"


def _changed_buckets(a: Snapshot, b: Snapshot) -> set[int]:
    """Buckets whose file set differs between two snapshots — what a
    CONCURRENT writer touched between our load and our publish attempt.
    Compares manifest-shard refs (O(buckets), no file-list walk); a bucket
    with no shard ref has no files."""
    keys = set(a.manifests) | set(b.manifests)
    return {int(k) for k in keys if a.manifests.get(k) != b.manifests.get(k)}


def merge_upsert(
    table: LakeTable,
    src: DataFrame,
    summary_update: dict | None = None,
    affected_buckets: list[int] | None = None,
    crash_before_publish: bool = False,
    crash_after_stage: bool = False,
    timings: dict | None = None,
    pre_publish_check=None,
    max_commit_retries: int = 3,
    publish: bool = True,
    partial_update: bool = False,
    agg_spec: dict | None = None,
) -> Snapshot | None:
    """Apply one deduplicated change batch to the table and commit a snapshot.

    ``partial_update=True`` switches the matched-row resolution to
    PARTIAL-UPDATE semantics: a NULL payload column in a winning source row
    means "unchanged" — the merged row coalesces per column with the target —
    UNLESS the source carries a reset (``_rv_lsn/_rv_seq`` from
    ``cdc.dedup.partial_collapse``: the batch's latest DELETE-or-INSERT
    version) newer than the target row, which kills the target's values
    first. The source must then be the output of ``partial_collapse`` (extra
    ``_rv_lsn/_rv_seq`` columns, per-column values already resolved within
    the batch).

    ``agg_spec`` (implies the partial machinery; source from
    ``cdc.dedup.aggregate_collapse``) switches named columns to AGGREGATE
    combiners (Paimon's aggregation merge engine): ``"sum"`` adds the batch
    total into the target, ``"max"``/``"min"`` keep the extremum, ``"last"``
    (default) coalesces as above — all associative, so per-batch collapse +
    merge equals the one-shot aggregate over the log. CALLER CONTRACT for
    sum columns: each event must be FOLDED exactly once. The engine covers
    crash-replays (watermarks skip already-applied offsets) and duplicate
    emissions landing in the same batch (collapse dedups on (key, version));
    an old event RE-EMITTED AT A NEW OFFSET in a later batch is
    indistinguishable from a legitimate late out-of-order event without a
    per-key version log, so such streams must be normalized upstream —
    the same caveat Paimon's aggregation engine carries. last/max/min are
    value-idempotent and tolerate all of the above.

    ``publish=False`` stages the merged snapshot WITHOUT moving the current
    pointer (write-audit-publish): audit it via ``table.read(snapshot=
    returned.version)``, then ``table.publish_staged`` / ``table.drop_staged``.

    ``src`` columns: the table's current schema columns + ``op`` (I/U/D) +
    ``commit_lsn`` + ``seq_no``. Exactly one row per key (assert upstream).
    Returns the committed snapshot, or None for an empty batch.

    ``affected_buckets``: callers that already know the batch's bucket set
    (the replay driver folds it into its one-pass batch stats) pass it here so
    the whole merge is a single job — probe, dedup, join, and write pipeline
    together with no intermediate materialization. A superset is safe (extra
    buckets are read and rewritten unchanged); a subset is NOT.

    Multi-writer safety (optimistic concurrency, Iceberg's commit loop): a
    ``CommitConflict`` from the publish step means another writer's snapshot
    landed after ours was loaded. The loser then (1) skips entirely if the new
    snapshot already lists this ``batch_id`` (another worker applied the same
    batch — at-most-once preserved); (2) re-commits the SAME staged files
    against the new parent when the interloper touched only disjoint buckets
    (our copy-on-write read is still current — metadata-only retry, mirroring
    the reference's failed-task re-queue ``TaskGroupContainer.java:162-241``);
    (3) otherwise re-runs the whole merge against the new snapshot, up to
    ``max_commit_retries`` times.
    """
    batch_id = (summary_update or {}).get("batch_id")
    last_exc: CommitConflict | None = None
    basis_nb: int | None = None
    for _attempt in range(max_commit_retries + 1):
        snap = table.snapshot()
        if batch_id is not None and batch_id in snap.applied_batches():
            return snap  # a concurrent writer applied this exact batch
        nb_now = table.bucket_count(snap)
        if basis_nb is None:
            basis_nb = nb_now
        elif nb_now != basis_nb:
            # a concurrent rebucket landed: the caller's bucket ids were
            # computed under the OLD layout — recompute from src
            affected_buckets = None
            basis_nb = nb_now
        try:
            return _merge_once(
                table, src, snap, summary_update, affected_buckets,
                crash_before_publish, crash_after_stage, timings,
                pre_publish_check, batch_id, publish, partial_update,
                agg_spec,
            )
        except CommitConflict as exc:
            last_exc = exc  # re-load + re-merge against the new current
    raise last_exc


def delta_append(
    table: LakeTable,
    src: DataFrame,
    summary_update: dict | None = None,
    affected_buckets: list[int] | None = None,
    bucket_aligned: bool = False,
    crash_before_publish: bool = False,
    crash_after_stage: bool = False,
    timings: dict | None = None,
    pre_publish_check=None,
    max_commit_retries: int = 3,
    publish: bool = True,
) -> Snapshot | None:
    """Merge-on-read write path: stage the deduplicated change batch AS delta
    files and commit them as a pure append — the base is NEVER read or
    rewritten, so a batch commit costs O(batch) instead of the COW path's
    O(touched buckets). At CDC rates with hash-distributed keys every batch
    touches every bucket, making COW O(table) per batch — at 10^10 rows this
    is the difference between rewriting 100 TB per batch and appending the
    batch. Readers resolve LWW across base+delta at scan time
    (``table.read`` -> ``resolve_lww``); ``maintain.compact`` folds deltas
    back into the base, bounding read amplification (Iceberg's v2
    merge-on-read equality-deletes + rewrite_data_files shape; the reference
    has no table format at all — its writer defers the same trade to the
    destination DB's own storage engine, ``WriterUtil.java:148-168``).

    Same input contract as ``merge_upsert``: table-schema columns + ``op`` +
    ``commit_lsn`` + ``seq_no``, exactly ONE row per key. Deletes become
    tombstone delta rows (payload nulled, ``_deleted=true``, the delete's
    version retained) — identical tombstone semantics to the COW path, so a
    late older UPDATE can never resurrect the row, before OR after compaction.

    Multi-writer: an append embeds NO basis rows, so a ``CommitConflict``
    retry is normally metadata-only — the SAME staged files re-commit against
    the new parent (after the batch-id at-most-once check). Unlike the COW
    path there is no "overlapping buckets -> re-run the merge" case; this is
    what makes concurrent single-table writers cheap under MOR. The ONE
    exception is losing to a concurrent ``maintain.rebucket``: the staged
    rows were placed under the OLD bucket count, so registering them as-is
    would point every bucket-pruned read (and the next COW merge's
    ``replace_buckets``) at the wrong bucket ids — the retry detects the
    count change and RE-STAGES under the new layout (old files orphan).

    ``bucket_aligned``: pass True when ``src`` is already hash-partitioned by
    the key into exactly n_buckets partitions (the replay pipeline's dedup
    output is); False adds the one corrective exchange.
    """
    import time as _time

    key = table.meta()["key"]
    batch_id = (summary_update or {}).get("batch_id")
    if affected_buckets is not None and not affected_buckets:
        return None
    snap = table.snapshot()
    if batch_id is not None and batch_id in snap.applied_batches():
        return snap

    def _stage(basis: Snapshot, aligned: bool) -> tuple[list[dict], int]:
        nb = table.bucket_count(basis)
        cols = basis.schema().names()
        is_del = F.col(OP_COL) == F.lit("D")
        out = src.select(
            F.col(key),
            *[
                F.when(~is_del, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in cols
                if c != key
            ],
            F.col("commit_lsn").cast("bigint").alias(LSN_COL),
            F.col("seq_no").cast("bigint").alias(SEQ_COL),
            is_del.alias(DELETED_COL),
            # columnwise tables (partial/aggregate merge engines): the
            # collapse's reset-version pair rides the delta file so readers
            # can reconstruct batch-internal D/I resets (resolve_columnwise)
            *(
                [
                    F.col("_rv_lsn").cast("bigint").alias("_rv_lsn"),
                    F.col("_rv_seq").cast("bigint").alias("_rv_seq"),
                ]
                if "_rv_lsn" in src.columns
                else []
            ),
        ).withColumn(BUCKET_COL, bucket_expr(key, nb))
        t0 = _time.time()
        files = table.write_data_files(
            out,
            basis.schema_id,
            crash_after_stage=crash_after_stage,
            bucket_aligned=aligned,
            kind="delta",
            n_buckets=nb,
        )
        if timings is not None:
            timings["write"] = (
                timings.get("write", 0.0) + round(_time.time() - t0, 3)
            )
        return files, nb

    files, staged_nb = _stage(snap, bucket_aligned)
    if pre_publish_check is not None:
        pre_publish_check()  # error-limit assertion: staged files orphan on raise
    expected = snap.version
    t0 = _time.time()
    last_exc: CommitConflict | None = None
    for _attempt in range(max_commit_retries + 1):
        try:
            snap_out = table.commit(
                files,
                replace_buckets=None,
                summary_update=summary_update,
                crash_before_publish=crash_before_publish,
                expected_parent=expected,
                publish=publish,
            )
            if timings is not None:
                timings["commit"] = round(_time.time() - t0, 3)
            return snap_out
        except CommitConflict as exc:
            last_exc = exc
            new_snap = table.snapshot()
            if batch_id is not None and batch_id in new_snap.applied_batches():
                return new_snap  # same batch landed via another worker
            if table.bucket_count(new_snap) != staged_nb:
                # lost to a concurrent rebucket: the staged rows sit under the
                # OLD layout — re-stage under the new count (alignment promise
                # no longer holds, so let the write add its exchange)
                files, staged_nb = _stage(new_snap, False)
            expected = new_snap.version  # else: metadata-only retry, same files
    raise last_exc


def _merge_once(
    table: LakeTable,
    src: DataFrame,
    snap: Snapshot,
    summary_update: dict | None,
    affected_buckets: list[int] | None,
    crash_before_publish: bool,
    crash_after_stage: bool,
    timings: dict | None,
    pre_publish_check,
    batch_id,
    publish: bool = True,
    partial_update: bool = False,
    agg_spec: dict | None = None,
) -> Snapshot | None:
    meta = table.meta()
    key, nb = meta["key"], table.bucket_count(snap)
    schema = snap.schema()
    cols = schema.names()

    persisted = False
    src = src.withColumn(BUCKET_COL, bucket_expr(key, nb))
    if affected_buckets is None:
        # standalone use: the (possibly expensive) src plan feeds two consumers
        # (bucket probe + merge join) — persist so it computes exactly once
        src = src.persist()
        persisted = True
        affected = [r[0] for r in src.select(BUCKET_COL).distinct().collect()]
    else:
        affected = list(affected_buckets)
    if not affected:
        if persisted:
            src.unpersist()
        return None

    # Both join inputs are hash-partitioned by the key into exactly nb
    # partitions — the same function as the lake's bucket layout (bucket_expr
    # == HashPartitioning, lake/table.py) — so partition i of the join output
    # contains bucket i only and the staged files are written with NO further
    # shuffle. Sources already partitioned this way (the dedup kernel's
    # repartition) are reused as-is by EnsureRequirements; mismatched sources
    # get the one corrective exchange automatically.
    tgt = (
        table.read(snapshot=snap, buckets=affected, with_lineage=True)
        .withColumn(BUCKET_COL, bucket_expr(key, nb))
        .repartition(nb, F.col(key))
    )

    s = src.select(
        F.col(key).alias("_s_key"),
        F.col(BUCKET_COL).alias("_s_b"),
        F.col(OP_COL).alias("_s_op"),
        F.col("commit_lsn").cast("bigint").alias("_s_lsn"),
        F.col("seq_no").cast("bigint").alias("_s_seq"),
        *[F.col(c).alias(f"_s_{c}") for c in cols if c != key],
        *(
            [
                F.col("_rv_lsn").cast("bigint").alias("_s_rvl"),
                F.col("_rv_seq").cast("bigint").alias("_s_rvs"),
            ]
            if partial_update or agg_spec
            else []
        ),
    )
    # join on the key alone (bucket is a pure function of the key, so the
    # extra equality adds no selectivity — it only widens the shuffle key) and
    # force a shuffled-hash join: both sides carry var-width payloads, for
    # which sort-merge pays two full sorts of array/binary rows while a hash
    # build on the deduped source (one row per key) is a bounded, fixed-cost
    # table per partition
    j = tgt.join(s.hint("shuffle_hash"), tgt[key] == s["_s_key"], "full_outer")

    src_wins = F.col("_s_key").isNotNull() & (
        F.col(key).isNull()
        | (
            F.struct(F.col("_s_lsn"), F.col("_s_seq"))
            > F.struct(F.col(LSN_COL), F.col(SEQ_COL))
        )
    )
    src_is_del = F.col("_s_op") == F.lit("D")
    take_src = src_wins & ~src_is_del

    # Deletes become tombstones (payload nulled, _deleted=true, delete's version
    # retained) so a later-arriving but older-versioned UPDATE cannot resurrect
    # the row. An unmatched DELETE also inserts a tombstone for the same reason.
    out_cols = [F.coalesce(F.col(key), F.col("_s_key")).alias(key)]
    if partial_update or agg_spec:
        # a batch reset (latest D-or-I) newer than the target row makes the
        # target's column values dead; otherwise a NULL source column means
        # "unchanged" and the target's value survives. An unmatched target
        # (key NULL) degenerates to src-only either way.
        reset = F.col("_s_rvl").isNotNull() & (
            F.struct(F.col("_s_rvl"), F.col("_s_rvs"))
            > F.struct(F.col(LSN_COL), F.col(SEQ_COL))
        )

        spec = dict(agg_spec or {})

        def src_val(c):
            s_c, t_c = F.col(f"_s_{c}"), F.col(c)
            fn = spec.get(c, "last")
            if fn == "sum":
                comb = F.when(
                    s_c.isNull() & t_c.isNull(), F.lit(None)
                ).otherwise(F.coalesce(s_c, F.lit(0)) + F.coalesce(t_c, F.lit(0)))
            elif fn == "max":
                comb = F.greatest(s_c, t_c)
            elif fn == "min":
                comb = F.least(s_c, t_c)
            else:
                comb = F.coalesce(s_c, t_c)
            return F.when(
                F.col(key).isNull() | F.coalesce(reset, F.lit(True)), s_c
            ).otherwise(comb)

    else:

        def src_val(c):
            return F.col(f"_s_{c}")

    for c in cols:
        if c == key:
            continue
        out_cols.append(
            F.when(take_src, src_val(c))
            .when(src_wins & src_is_del, F.lit(None))
            .otherwise(F.col(c))
            .alias(c)
        )
    out_cols += [
        F.when(src_wins, F.col("_s_lsn")).otherwise(F.col(LSN_COL)).cast("bigint").alias(LSN_COL),
        F.when(src_wins, F.col("_s_seq")).otherwise(F.col(SEQ_COL)).cast("bigint").alias(SEQ_COL),
        F.when(src_wins, src_is_del)
        .otherwise(F.coalesce(F.col(DELETED_COL), F.lit(False)))
        .alias(DELETED_COL),
        F.coalesce(F.col(BUCKET_COL), F.col("_s_b")).alias(BUCKET_COL),
    ]
    merged = j.select(out_cols)

    try:
        import time as _time

        t0 = _time.time()
        files = table.write_data_files(
            merged,
            snap.schema_id,
            crash_after_stage=crash_after_stage,
            bucket_aligned=True,
            n_buckets=nb,
        )
        if timings is not None:
            timings["write"] = round(_time.time() - t0, 3)
            t0 = _time.time()
        if pre_publish_check is not None:
            # post-write, pre-publish validation hook (error-limit assertion
            # from in-flight observe metrics — the reference checks dirty
            # limits at END of transfer, ``JobContainer.checkLimit``). A
            # raise here aborts BEFORE the snapshot publishes: staged files
            # become unreferenced orphans, the table is untouched.
            pre_publish_check()
        try:
            snap_out = table.commit(
                files,
                replace_buckets=affected,
                summary_update=summary_update,
                crash_before_publish=crash_before_publish,
                expected_parent=snap.version,
                publish=publish,
            )
        except CommitConflict:
            # a writer published between our snapshot load and the pointer
            # swap. The staged files are still CORRECT iff that writer
            # touched none of our buckets (our copy-on-write read of them is
            # current) — then one metadata-only re-commit against the new
            # parent suffices, no data rewrite.
            new_snap = table.snapshot()
            if batch_id is not None and batch_id in new_snap.applied_batches():
                return new_snap  # same batch landed via another worker
            if not _changed_buckets(snap, new_snap).isdisjoint(affected):
                raise  # overlapping buckets: caller re-runs the full merge
            snap_out = table.commit(
                files,
                replace_buckets=affected,
                summary_update=summary_update,
                expected_parent=new_snap.version,
                publish=publish,
            )
        if timings is not None:
            timings["commit"] = round(_time.time() - t0, 3)
        return snap_out
    finally:
        if persisted:
            src.unpersist()
