"""Merge-on-read write path: delta appends + read-time LWW resolution +
compaction.

The COW MERGE rewrites every touched bucket per batch; with hash-distributed
keys at CDC event rates that is O(table) per batch. The MOR path stages the
deduplicated batch as delta files (O(batch), the base is never read), readers
resolve LWW across base+delta at scan time, and compaction folds deltas back
into the base. These tests pin exact parity with the COW path (same oracle,
same tombstone semantics), crash/resume, and the metadata-only multi-writer
retry that appends enable.
"""

import pytest
from pyspark.sql import functions as F

from tg_data_connector_spark.cdc import (
    ReplayConfig,
    ReplayEngine,
    gen_changelog,
    gen_seed_sequences,
)
from tg_data_connector_spark.lake import LakeTable, TableSchema
from tg_data_connector_spark.lake.maintain import compact
from tg_data_connector_spark.lake.merge import delta_append

from oracle import oracle_final_state

SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)

EV = (
    "doc_id string, tokens array<int>, n_tok int, source string, "
    "op string, commit_lsn bigint, seq_no bigint"
)

N_EVENTS, N_DOCS, N_PARTS = 4000, 600, 4


def _setup(spark, root, seed_docs=300, nb=8):
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=nb)
    seed = gen_seed_sequences(spark, seed_docs)
    t.append(seed)
    return t, seed


def _ev(spark, doc_id, tokens, lsn, seq=0, op="U"):
    return spark.createDataFrame(
        [(doc_id, tokens, len(tokens), "s", op, lsn, seq)], EV
    )


def _delta_files(t):
    return [f for f in t.snapshot().files if f.get("kind") == "delta"]


def _sorted_rows(df):
    return sorted(
        df.select("doc_id", "tokens", "n_tok", "source").collect(),
        key=lambda r: r["doc_id"],
    )


def test_mor_replay_matches_oracle_and_cow(spark, tmp_path):
    """Same changelog through COW and MOR -> identical final state, both equal
    the window-SQL oracle; deltas exist before compaction, none after, and
    compaction never changes the resolved read."""
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)

    t_cow, seed = _setup(spark, str(tmp_path / "cow"))
    ReplayEngine(
        spark, t_cow, ReplayConfig(events_per_batch=1000)
    ).replay(log, run_id="cow")

    t_mor, _ = _setup(spark, str(tmp_path / "mor"))
    ReplayEngine(
        spark, t_mor, ReplayConfig(events_per_batch=1000, merge_mode="mor")
    ).replay(log, run_id="mor")

    assert _delta_files(t_mor), "MOR replay must stage delta files"
    pre = _sorted_rows(t_mor.read())
    oracle = _sorted_rows(oracle_final_state(seed, log))
    assert pre == _sorted_rows(t_cow.read())
    assert pre == oracle

    compact(t_mor)
    assert not _delta_files(t_mor), "compaction must fold deltas into base"
    assert _sorted_rows(t_mor.read()) == pre


def test_mor_auto_compaction_bounds_delta_depth(spark, tmp_path):
    """mor_compact_after keeps per-bucket delta file count bounded across a
    many-batch replay, without changing the final state."""
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    t, seed = _setup(spark, str(tmp_path / "t"))
    ReplayEngine(
        spark,
        t,
        ReplayConfig(events_per_batch=500, merge_mode="mor", mor_compact_after=2),
    ).replay(log, run_id="auto")
    per_bucket: dict[int, int] = {}
    for f in _delta_files(t):
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values(), default=0) <= 2
    assert _sorted_rows(t.read()) == _sorted_rows(oracle_final_state(seed, log))


def test_mor_tombstone_survives_compaction(spark, tmp_path):
    """A delete folded into the base by compaction must still outrank a LATE
    older-versioned update arriving afterwards as a delta (no resurrection)."""
    t, _ = _setup(spark, str(tmp_path / "t"), seed_docs=10, nb=4)
    delta_append(t, _ev(spark, "d-3", [1], lsn=50, op="D"),
                 summary_update={"batch_id": "del"})
    compact(t)  # tombstone now lives in the base (not purged)
    assert not _delta_files(t)
    delta_append(t, _ev(spark, "d-3", [9, 9], lsn=10, op="U"),
                 summary_update={"batch_id": "late"})
    assert t.read().where(F.col("doc_id") == "d-3").count() == 0
    # and a genuinely newer update DOES resurrect
    delta_append(t, _ev(spark, "d-3", [7], lsn=99, op="U"),
                 summary_update={"batch_id": "newer"})
    assert t.read().where(F.col("doc_id") == "d-3").count() == 1


def test_mor_crash_resume(spark, tmp_path):
    """Crash between stage and publish mid-replay, then a full re-run: the
    watermark + batch-id protocol converges identically under MOR."""
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    t, seed = _setup(spark, str(tmp_path / "t"))
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, merge_mode="mor")
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.replay(log, run_id="r", crash_before_publish_at=1)
    eng.replay(log, run_id="r")  # resume: full re-feed of the same log
    assert _sorted_rows(t.read()) == _sorted_rows(oracle_final_state(seed, log))


def test_mor_rerun_is_noop(spark, tmp_path):
    """Re-feeding an already-applied log adds no delta files (watermark filter
    + batch-id skip)."""
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    t, seed = _setup(spark, str(tmp_path / "t"))
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, merge_mode="mor")
    )
    eng.replay(log, run_id="r")
    n_deltas = len(_delta_files(t))
    eng.replay(log, run_id="r")
    assert len(_delta_files(t)) == n_deltas
    assert _sorted_rows(t.read()) == _sorted_rows(oracle_final_state(seed, log))


def test_mor_concurrent_writers_metadata_only_retry(spark, tmp_path):
    """Two handles race delta appends for DIFFERENT batches: the loser's
    retry is metadata-only (an append embeds no basis rows), both land, and
    watermarks merge monotonically (never regress)."""
    root = str(tmp_path / "t")
    t_a, _ = _setup(spark, root, seed_docs=10, nb=4)
    t_b = LakeTable(spark, root)

    # deterministic race via the pre-publish hook: A stages its delta files,
    # then — inside A's stage->publish window — B runs a full delta append and
    # publishes. A's commit hits CommitConflict and must retry with the SAME
    # staged files against B's snapshot (no data rewrite).
    def interloper():
        delta_append(
            t_b, _ev(spark, "d-1", [5], lsn=7), summary_update={
                "batch_id": "b", "watermarks": {0: 100}},
        )

    delta_append(
        t_a, _ev(spark, "d-2", [6], lsn=8), summary_update={
            "batch_id": "a", "watermarks": {0: 50}},
        pre_publish_check=interloper,
    )
    snap = t_a.snapshot()
    applied = snap.applied_batches()
    assert "a" in applied and "b" in applied
    # monotone watermark merge: A's lower hwm (50) must NOT regress B's (100)
    assert snap.watermarks()["0"] == 100
    rows = {r["doc_id"]: r["tokens"] for r in t_a.read().collect()}
    assert rows["d-1"] == [5] and rows["d-2"] == [6]


def test_mor_duplicate_batch_skipped(spark, tmp_path):
    t, _ = _setup(spark, str(tmp_path / "t"), seed_docs=10, nb=4)
    delta_append(t, _ev(spark, "d-1", [5], lsn=7),
                 summary_update={"batch_id": "x"})
    v = t.current_version()
    delta_append(t, _ev(spark, "d-1", [6], lsn=8),
                 summary_update={"batch_id": "x"})
    assert t.current_version() == v  # at-most-once: same batch_id skipped
    assert t.read().where(F.col("doc_id") == "d-1").collect()[0]["tokens"] == [5]


def test_mor_schema_evolution_mid_replay(spark, tmp_path):
    """op='S' add-column mid-log under MOR: pre-evolution delta files read
    null-filled through the per-file schema alignment, post-evolution rows
    carry the new column."""
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS).withColumn(
        "schema_change", F.lit(None).cast("string")
    )
    mid = log.agg(F.floor(F.max("commit_lsn") / 2).cast("bigint")).collect()[0][0]
    s_event = spark.createDataFrame(
        [(-1, "S", int(mid), 10**6, None, None, None, None, 0, 0,
          '{"add_column": {"name": "lang", "type": "string"}}')],
        "event_id bigint, op string, commit_lsn bigint, seq_no bigint, "
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "part int, offset bigint, schema_change string",
    )
    t, seed = _setup(spark, str(tmp_path / "t"))
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, merge_mode="mor")
    )
    reports = eng.replay(log.unionByName(s_event), run_id="evo")
    assert sum(r.schema_changes for r in reports) == 1
    final = t.read()
    assert "lang" in final.columns
    assert _sorted_rows(final) == _sorted_rows(oracle_final_state(seed, log))
    compact(t)
    assert _sorted_rows(t.read()) == _sorted_rows(oracle_final_state(seed, log))


def test_resolved_read_composes_with_set_operations(spark, tmp_path):
    """Regression pin: a resolved (delta-bearing) read must compose under
    exceptAll/intersectAll. The first resolve_lww implementation (narrow agg
    + self-join back) hit Catalyst INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when
    the ExceptAll rewrite (union + group-by-all + replicate) ran over the
    self-join; the window implementation is self-join-free."""
    t, _ = _setup(spark, str(tmp_path / "t"), seed_docs=10, nb=4)
    delta_append(t, _ev(spark, "d-1", [5], lsn=7),
                 summary_update={"batch_id": "x"})
    assert _delta_files(t)
    r = t.read().select("doc_id", "tokens")
    other = spark.createDataFrame([("d-1", [5])], "doc_id string, tokens array<int>")
    # "d-1" is NOT a seed key -> the update inserted it: 10 seed rows + 1
    assert r.count() == 11
    assert r.exceptAll(other).count() == 10  # the seed rows
    assert other.exceptAll(r).count() == 0
    assert r.intersectAll(other).count() == 1


def _bucket_of(spark, doc_id, nb):
    from tg_data_connector_spark.lake.table import bucket_expr

    return (
        spark.range(1)
        .select(F.lit(doc_id).alias("k"))
        .select(bucket_expr("k", nb).alias("b"))
        .collect()[0]["b"]
    )


def test_incremental_compact_folds_only_selected_buckets(spark, tmp_path):
    """compact(buckets=[...]) is O(selected buckets): it folds deltas for the
    chosen buckets only, leaves other buckets' deltas in place, and never
    changes the resolved read."""
    from tg_data_connector_spark.lake.maintain import delta_depths

    t, _ = _setup(spark, str(tmp_path / "t"), seed_docs=10, nb=4)
    # two keys in DIFFERENT buckets
    k1 = "d-a"
    b1 = _bucket_of(spark, k1, 4)
    k2 = next(
        f"d-x{i}" for i in range(50) if _bucket_of(spark, f"d-x{i}", 4) != b1
    )
    b2 = _bucket_of(spark, k2, 4)
    delta_append(t, _ev(spark, k1, [1], lsn=5), summary_update={"batch_id": "1"})
    delta_append(t, _ev(spark, k2, [2], lsn=6), summary_update={"batch_id": "2"})
    assert set(delta_depths(t.snapshot())) == {b1, b2}
    before = _sorted_rows(t.read())

    compact(t, buckets=[b1])
    depths = delta_depths(t.snapshot())
    assert b1 not in depths and depths[b2] == 1
    assert _sorted_rows(t.read()) == before


def test_compact_conflicts_with_concurrent_writer(spark, tmp_path):
    """Compaction rewrites the rows of the snapshot it READ, so a writer
    landing between compact's read and its publish must raise CommitConflict
    (expected_parent guard) — a silent success would erase the writer's
    update. Re-running compact then succeeds and keeps the update."""
    from tg_data_connector_spark.lake.table import CommitConflict

    root = str(tmp_path / "t")
    t, _ = _setup(spark, root, seed_docs=10, nb=4)
    t_b = LakeTable(spark, root)
    delta_append(t, _ev(spark, "d-a", [1], lsn=5), summary_update={"batch_id": "1"})

    fired = [False]
    orig = t.write_data_files

    def staged_then_interloper(*a, **k):
        files = orig(*a, **k)
        if not fired[0]:
            fired[0] = True
            delta_append(
                t_b, _ev(spark, "d-b", [9], lsn=9),
                summary_update={"batch_id": "race"},
            )
        return files

    t.write_data_files = staged_then_interloper
    with pytest.raises(CommitConflict):
        compact(t)
    compact(t)  # re-run against the new current: converges
    rows = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert rows["d-a"] == [1] and rows["d-b"] == [9]  # no lost update


def test_read_plan_pays_resolution_only_with_deltas(spark, tmp_path):
    """Plan shape: a base-only snapshot reads with NO window/sort (the common
    read path is unchanged by the MOR feature); a delta-bearing snapshot adds
    exactly the row_number resolution."""
    t, _ = _setup(spark, str(tmp_path / "t"), seed_docs=10, nb=4)
    plan0 = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan0 and "Window" not in plan0
    delta_append(t, _ev(spark, "d-a", [1], lsn=5), summary_update={"batch_id": "1"})
    plan1 = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan1
    compact(t)
    plan2 = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan2 and "Window" not in plan2


def test_watermark_merge_is_monotone(spark, tmp_path):
    """Direct commit-level pin: a summary_update carrying a LOWER hwm for a
    part never regresses the stored watermark (high-watermarks are monotone
    by definition; two-writer retries re-merge summaries)."""
    t, _ = _setup(spark, str(tmp_path / "t"), seed_docs=5, nb=2)
    t.commit([], replace_buckets=None,
             summary_update={"watermarks": {0: 100}, "batch_id": "w1"})
    t.commit([], replace_buckets=None,
             summary_update={"watermarks": {0: 40, 1: 7}, "batch_id": "w2"})
    wm = t.snapshot().watermarks()
    assert wm["0"] == 100 and wm["1"] == 7


def _jobs_in_group(spark, group):
    """Job ids the status store holds for ``group``, after the listener bus
    has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_manifest_listed_reads_launch_no_listing_job(spark, tmp_path):
    """The manifest is the file list: on a MoR table with more live files
    than Spark's parallel-listing threshold (32 paths), building the
    DataFrames of read(), lookup() and verify_table launches no Spark job
    (Spark would otherwise re-list the files in a job of one task per file).
    The resolved read stays oracle-equal, and the session's threshold ends
    at its prior value, also after six threads read at once, and unset when
    it was unset."""
    import sys
    from threading import Thread

    from tg_data_connector_spark.lake.inspect import verify_table

    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    t, seed = _setup(spark, str(tmp_path / "t"))
    ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=800, merge_mode="mor")
    ).replay(log, run_id="mor")
    n_files = len(t.snapshot().files)
    assert n_files > 32 and _delta_files(t)
    keys = [r["doc_id"] for r in seed.select("doc_id").limit(5).collect()]

    sc = spark.sparkContext
    group = "manifest-listed-reads"
    spark.conf.set(conf, "31")  # a non-default prior, restored exactly
    try:
        sc.setJobGroup(group, "build read/lookup/verify DataFrames")
        try:
            frames = [t.read(), t.lookup(keys), verify_table(t)]
            assert _jobs_in_group(spark, group) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert spark.conf.get(conf) == "31"

        oracle = _sorted_rows(oracle_final_state(seed, log))
        assert _sorted_rows(frames[0]) == oracle
        assert _sorted_rows(frames[1]) == [
            r for r in oracle if r["doc_id"] in keys
        ]
        assert frames[2].collect() == []

        # more reader threads than cores, switching often: a lost
        # raise/restore would leave the threshold off its prior value
        built = [None] * 6

        def reader(i):
            built[i] = t.read()

        threads = [Thread(target=reader, args=(i,)) for i in range(6)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(th.is_alive() for th in threads)
        assert spark.conf.get(conf) == "31"
        assert [_sorted_rows(df) for df in built[:2]] == [oracle, oracle]
    finally:
        spark.conf.unset(conf)
    # an unset key is unset again afterwards, not pinned to the default
    t.read()
    assert spark.conf.get(conf, None) is None
