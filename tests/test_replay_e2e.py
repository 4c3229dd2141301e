"""End-to-end replay equivalence, crash/resume, out-of-order, idempotence,
schema evolution — the SURVEY §5 test plan."""

import pytest
from pyspark.sql import functions as F

from tg_data_connector_spark.cdc import (
    ErrorLimit,
    ReplayConfig,
    ReplayEngine,
    gen_changelog,
    gen_seed_sequences,
)
from tg_data_connector_spark.cdc.genlog import with_binary_payload
from tg_data_connector_spark.cdc.parse import parse_events
from tg_data_connector_spark.cdc.quality import ErrorLimitExceeded, split_quarantine
from tg_data_connector_spark.lake import LakeTable, TableSchema

from oracle import oracle_final_state

SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)

N_EVENTS, N_DOCS, N_PARTS = 4000, 600, 4


def _setup(spark, root, seed_docs=300):
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=8)
    seed = gen_seed_sequences(spark, seed_docs)
    t.append(seed)
    return t, seed


def _assert_equiv(engine_df, oracle_df):
    e = engine_df.select("doc_id", "tokens", "n_tok", "source")
    o = oracle_df.select("doc_id", "tokens", "n_tok", "source")
    assert e.count() == o.count()
    # exact per-row token-array equality via symmetric anti-joins on all columns
    mism = e.exceptAll(o).count() + o.exceptAll(e).count()
    assert mism == 0


def test_replay_matches_oracle(spark, tmp_table_root):
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    reports = eng.replay(log, run_id="r1")
    assert len(reports) == 4
    assert sum(r.dirty for r in reports) > 0  # malformed events were quarantined
    _assert_equiv(t.read(), oracle_final_state(seed, log))


def test_replay_single_batch_same_result(spark, tmp_table_root):
    """Batching must not change the final state (LWW associativity)."""
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=10**9))
    eng.replay(log, run_id="r1")
    _assert_equiv(t.read(), oracle_final_state(seed, log))


def test_crash_before_publish_then_resume(spark, tmp_table_root):
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.replay(log, run_id="r1", crash_before_publish_at=1)
    wm_after_crash = t.snapshot().watermarks()
    # batch 0 committed, batch 1 staged-but-unpublished: invisible
    assert wm_after_crash and max(int(v) for v in wm_after_crash.values()) <= 249
    eng.replay(log, run_id="r1")  # resume from watermarks
    _assert_equiv(t.read(), oracle_final_state(seed, log))


def test_crash_after_stage_then_resume(spark, tmp_table_root):
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.replay(log, run_id="r1", crash_after_stage_at=2)
    eng.replay(log, run_id="r1")
    _assert_equiv(t.read(), oracle_final_state(seed, log))


def test_full_rerun_is_noop(spark, tmp_table_root):
    """Replaying an already-fully-applied log changes nothing (exactly-once)."""
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    eng.replay(log, run_id="r1")
    v = t.current_version()
    state = sorted(t.read().collect())
    reports = eng.replay(log, run_id="r2")  # different run id, same offsets
    assert all(r.events == 0 or r.skipped for r in reports) or reports == []
    assert sorted(t.read().collect()) == state
    # watermark filter leaves nothing: no data rewrite happened
    assert all(f["path"] in {x["path"] for x in t.snapshot(v).files}
               for f in t.snapshot().files)


def test_out_of_order_shuffled_delivery(spark, tmp_table_root):
    """Same events in a scrambled delivery order -> same final state."""
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    # scramble: re-derive offset from a permutation of event order
    scrambled = (
        log.withColumn("offset", F.pmod(F.col("event_id") * 7 + 13, F.lit(4001)))
    )
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    eng.replay(scrambled, run_id="r1")
    _assert_equiv(t.read(), oracle_final_state(seed, log))


def test_vectorized_payload_parse_path(spark, tmp_table_root):
    """Changelog delivered as binary payloads -> pandas_udf decode -> same state."""
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, 2000, N_DOCS, n_parts=N_PARTS)
    raw = with_binary_payload(log).drop("tokens")
    decoded = parse_events(raw)
    # decode is exact: compare against the directly generated arrays
    orig = log.select("event_id", "offset", "tokens")
    back = decoded.select("event_id", "offset", "tokens")
    assert orig.exceptAll(back).count() == 0 and back.exceptAll(orig).count() == 0
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000, parse_payload=True))
    eng.replay(raw, run_id="r1")
    _assert_equiv(t.read(), oracle_final_state(seed, log))


def test_schema_evolution_mid_replay(spark, tmp_table_root):
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, 2000, N_DOCS, n_parts=N_PARTS, with_schema_change=True)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=500))
    reports = eng.replay(log, run_id="r1")
    assert sum(r.schema_changes for r in reports) == 1
    df = t.read()
    assert "lang" in df.columns  # added column, null-filled everywhere
    _assert_equiv(df, oracle_final_state(seed, log))


def test_error_limit_enforced(spark, tmp_table_root):
    t, _ = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, error_limit=ErrorLimit(record=0))
    )
    with pytest.raises(ErrorLimitExceeded):
        eng.replay(log, run_id="r1")


def test_quarantine_contents(spark, tmp_table_root, tmp_path):
    t, _ = _setup(spark, tmp_table_root)
    qdir = str(tmp_path / "quarantine")
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, quarantine_dir=qdir)
    )
    reports = eng.replay(log, run_id="r1")
    q = spark.read.parquet(qdir)
    assert q.count() == sum(r.dirty for r in reports) > 0
    # every quarantined row violates the invariant
    clean, dirty = split_quarantine(q.drop("_batch_id"))
    assert clean.count() == 0


def test_lineage_rows_written(spark, tmp_table_root):
    t, _ = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, 2000, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    reports = eng.replay(log, run_id="r1")
    lin = eng.lineage.read(spark)
    # one row per (batch, part)
    assert lin.count() == len(reports) * N_PARTS
    agg = lin.groupBy("part").agg(F.sum("events").alias("ev"), F.max("hwm").alias("h"))
    per_part = {r["part"]: r for r in agg.collect()}
    total = sum(r["ev"] for r in per_part.values())
    assert total == sum(r.events for r in reports)
    # lineage watermarks agree with the snapshot's
    wm = t.snapshot().watermarks()
    assert all(int(wm[str(p)]) == per_part[p]["h"] for p in per_part)


@pytest.mark.parametrize("n_parts", [64, 65])
def test_lineage_dirty_per_part_exact_or_null(spark, tmp_path, n_parts):
    """Per-part dirty counts ride the write job for up to 64 parts: each
    lineage row then holds its part's exact count. Past 64 parts only the
    batch total is counted, and every lineage row says NULL (unknown)
    rather than a false 0."""
    t, _ = _setup(spark, str(tmp_path / "t"))
    log = gen_changelog(spark, 3000, N_DOCS, n_parts=n_parts)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=10**9))
    [rep] = eng.replay(log, run_id="r1")
    _, dirty = split_quarantine(log)
    assert rep.dirty == dirty.count() > 0
    lin = {r["part"]: r["dirty"] for r in eng.lineage.read(spark).collect()}
    assert len(lin) == n_parts
    if n_parts == 64:
        by_part = {r["part"]: r["count"] for r in dirty.groupBy("part").count().collect()}
        assert lin == {p: by_part.get(p, 0) for p in range(n_parts)}
    else:
        assert set(lin.values()) == {None}


def test_schema_boundary_version_collision_applied_once(spark, tmp_table_root):
    """Adversarial: a data event sharing a schema event's EXACT
    (commit_lsn, seq_no) must be applied exactly once — in the sub-batch
    AFTER the schema change (inclusive lower bound), never dropped by two
    strict windows."""
    t, _ = _setup(spark, tmp_table_root, seed_docs=10)
    rows = [
        (1, "I", 50, 0, "dA", [1], 1, "s", 0, 0, None),
        (2, "S", 100, 5, "dX", None, None, "s", 0, 1,
         '{"add_column": {"name": "lang", "type": "string"}}'),
        (3, "U", 100, 5, "dA", [2, 3], 2, "s", 0, 2, None),  # collides with S
        (4, "I", 120, 0, "dB", [4], 1, "s", 0, 3, None),
    ]
    log = spark.createDataFrame(
        rows,
        "event_id long, op string, commit_lsn long, seq_no long, "
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "part int, offset long, schema_change string",
    )
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=100))
    reports = eng.replay(log, run_id="collide")
    assert sum(r.schema_changes for r in reports) == 1
    got = {
        r["doc_id"]: r
        for r in t.read().where(F.col("doc_id").isin("dA", "dB")).collect()
    }
    assert set(got) == {"dA", "dB"}
    # the colliding event won LWW for dA and was applied exactly once
    assert got["dA"]["tokens"] == [2, 3] and got["dA"]["n_tok"] == 2
    assert "lang" in t.read().columns


def test_replay_into_uri_rooted_table(spark, tmp_path):
    """Replay into a table whose root is a file:// URI with ALL metadata
    routed through HadoopTableFS (the hdfs:///warehouse shape): commit
    protocol, manifest shards, and the driver-side lineage flush must all
    resolve the URI rather than treating it as a POSIX path."""
    from tg_data_connector_spark.cdc.genlog import with_binary_payload
    from tg_data_connector_spark.lake import HadoopTableFS

    root = f"file://{tmp_path}/wh/t"
    fs = HadoopTableFS(spark, root)
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=8, fs=fs)
    seed = gen_seed_sequences(spark, 300)
    t.append(seed)
    log_tok = gen_changelog(spark, 2000, 300, n_parts=4)
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, parse_payload=True)
    )
    eng.replay(with_binary_payload(log_tok).drop("tokens"), run_id="uri")
    _assert_equiv(t.read(), oracle_final_state(seed, log_tok))
    assert eng.lineage.read(spark).count() > 0  # flush resolved the URI
    assert len(fs.listdir(f"{root}/_manifests")) > 0


def test_rename_lag_events_map_to_new_column(spark, tmp_table_root):
    """Mid-replay rename_column with an upstream that LAGS the rename: the
    change events keep carrying the old field name (`source`), and the
    engine must map them onto the renamed column through the table's rename
    log (replay.py alias_of — the reference's SnowflakeReader column-mapping
    semantics). Chained renames compose; final state matches the oracle
    modulo the column name."""
    from tg_data_connector_spark.lake.evolve import apply_schema_change

    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(spark, t, ReplayConfig(events_per_batch=1000))
    mid = log.agg(F.floor((F.min("offset") + F.max("offset")) / 2)).collect()[0][0]
    eng.replay(log.where(F.col("offset") <= mid), run_id="r1")
    apply_schema_change(t, '{"rename_column": {"name": "source", "to": "origin"}}')
    eng.replay(log, run_id="r1")  # resumes; events still say `source`
    apply_schema_change(
        t, '{"rename_column": {"name": "origin", "to": "provenance"}}'
    )
    log2 = (
        gen_changelog(spark, 1000, N_DOCS, n_parts=N_PARTS, seed=7)
        .withColumn("commit_lsn", F.col("commit_lsn") + F.lit(10_000_000))
        .withColumn("offset", F.col("offset") + F.lit(1_000_000))
    )
    eng.replay(log2, run_id="r1")
    got = t.read()
    assert "provenance" in got.columns and "source" not in got.columns
    # no rename-lag event may have null-filled the renamed column
    assert got.where(F.col("provenance").isNull()).count() == 0
    _assert_equiv(
        got.withColumnRenamed("provenance", "source"),
        oracle_final_state(seed, log.unionByName(log2)),
    )


def test_requeue_quarantine_dead_letter(spark, tmp_table_root, tmp_path):
    """Dead-letter replay: malformed events quarantine during the run; a
    requeue with the upstream fix merges them by LWW (old versions lose to
    applied newer rows, winning versions land); rows the fix does NOT cure
    stay out; re-running the same requeue is a snapshot no-op; watermarks
    never regress."""
    from tg_data_connector_spark.cdc.replay import requeue_quarantine

    qdir = str(tmp_path / "q")
    t, seed = _setup(spark, tmp_table_root)
    log = gen_changelog(spark, N_EVENTS, N_DOCS, n_parts=N_PARTS)
    eng = ReplayEngine(
        spark, t, ReplayConfig(events_per_batch=1000, quarantine_dir=qdir)
    )
    eng.replay(log, run_id="r1")
    wm_before = t.snapshot().watermarks()
    n_dirty = spark.read.parquet(qdir).count()
    assert n_dirty > 0

    def fix(df):
        return df.withColumn(
            "n_tok",
            F.when(F.col("op") != "D",
                   F.size(F.col("tokens")).cast("int")).otherwise(F.col("n_tok")),
        )

    rep = requeue_quarantine(spark, t, qdir, fix=fix, run_id="rq1")
    assert not rep.skipped
    assert t.snapshot().watermarks() == wm_before  # monotone: never regressed
    # oracle: LWW over clean + fixed events
    fixed_log = log.withColumn(
        "n_tok",
        F.when(
            (F.col("op") != "D") & F.col("tokens").isNotNull()
            & (F.size("tokens") != F.col("n_tok")),
            F.size("tokens"),
        ).otherwise(F.col("n_tok")),
    )
    _assert_equiv(t.read(), oracle_final_state(seed, fixed_log))
    v = t.current_version()
    assert requeue_quarantine(spark, t, qdir, fix=fix, run_id="rq1").skipped
    assert t.current_version() == v
    # a requeue whose fix cures NOTHING merges nothing (rows stay dirty)
    rep3 = requeue_quarantine(spark, t, qdir, run_id="rq2")
    assert rep3.dirty == n_dirty  # every row still dirty, all counted
    _assert_equiv(t.read(), oracle_final_state(seed, fixed_log))
