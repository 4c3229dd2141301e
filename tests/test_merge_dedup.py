import pytest
from pyspark.sql import functions as F

from tg_data_connector_spark.cdc import replay as replay_mod
from tg_data_connector_spark.cdc.dedup import lww_dedup, lww_dedup_salted
from tg_data_connector_spark.lake import LakeTable, TableSchema, merge_upsert

SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)

EV = "doc_id string, tokens array<int>, n_tok int, source string, op string, commit_lsn bigint, seq_no bigint"


def _events(spark, rows):
    return spark.createDataFrame(rows, EV)


def test_lww_dedup_both_strategies(spark):
    rows = [
        ("a", [1], 1, "s", "I", 1, 0),
        ("a", [2], 1, "s", "U", 3, 1),
        ("a", [9], 1, "s", "U", 3, 0),  # same lsn, lower seq loses
        ("a", [0], 1, "s", "U", 2, 9),
        ("a", [2], 1, "s", "U", 3, 1),  # exact duplicate delivery
        ("b", [5], 1, "s", "D", 7, 0),
    ]
    df = _events(spark, rows)
    for fn in (lww_dedup, lambda d, k: lww_dedup_salted(d, k, 4)):
        out = {r["doc_id"]: r for r in fn(df, "doc_id").collect()}
        assert len(out) == 2
        assert out["a"]["tokens"] == [2] and out["a"]["commit_lsn"] == 3
        assert out["a"]["seq_no"] == 1
        assert out["b"]["op"] == "D"


def test_merge_insert_update_delete(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(
        spark.createDataFrame(
            [("a", [1], 1, "s"), ("b", [2], 1, "s"), ("c", [3], 1, "s")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
    )
    batch = _events(
        spark,
        [
            ("a", [10, 11], 2, "s2", "U", 5, 0),  # update
            ("b", None, None, "s", "D", 5, 0),  # delete
            ("d", [40], 1, "s", "I", 5, 0),  # insert
            ("zz", None, None, "s", "D", 5, 0),  # delete of absent key -> tombstone
        ],
    )
    merge_upsert(t, batch)
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert set(rows) == {"a", "c", "d"}
    assert rows["a"]["tokens"] == [10, 11] and rows["a"]["source"] == "s2"
    assert rows["c"]["tokens"] == [3]


def test_merge_lww_ignores_stale_and_no_resurrection(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(
        spark.createDataFrame(
            [("a", [1], 1, "s")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ),
        lsn_col=F.lit(10),
        seq_col=F.lit(0),
    )
    # batch 1: delete at v20
    merge_upsert(t, _events(spark, [("a", None, None, "s", "D", 20, 0)]))
    assert t.read().count() == 0
    # batch 2 (late, out-of-order): update at v15 must NOT resurrect 'a'
    merge_upsert(t, _events(spark, [("a", [9], 1, "s", "U", 15, 0)]))
    assert t.read().count() == 0
    # stale update below the seed version is ignored too
    merge_upsert(t, _events(spark, [("a", [7], 1, "s", "U", 5, 0)]))
    assert t.read().count() == 0
    # but a genuinely newer insert after the delete wins
    merge_upsert(t, _events(spark, [("a", [42], 1, "s", "I", 30, 0)]))
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [42]


def test_merge_only_rewrites_affected_buckets(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=8)
    seed = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    t.append(seed)
    before = {f["path"] for f in t.snapshot().files}
    merge_upsert(t, _events(spark, [("d0", [99], 1, "s", "U", 5, 0)]))
    after = t.snapshot().files
    untouched = [f for f in after if f["path"] in before]
    # exactly one bucket was rewritten; the other buckets' files are reused
    rewritten_buckets = {f["bucket"] for f in after if f["path"] not in before}
    assert len(rewritten_buckets) == 1
    assert len(untouched) > 0
    assert t.read().where(F.col("doc_id") == "d0").collect()[0]["tokens"] == [99]
    assert t.read().count() == 200


def test_merge_idempotent_reapply(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    batch = _events(spark, [("a", [1], 1, "s", "I", 1, 0), ("b", [2], 1, "s", "I", 1, 1)])
    merge_upsert(t, batch)
    state1 = sorted(t.read().collect())
    merge_upsert(t, batch)  # re-apply the same batch
    assert sorted(t.read().collect()) == state1


def test_winner_filter_both_variants(spark):
    """winner_filter (broadcast and shuffle-join) must keep exactly the rows
    carrying each key's max (commit_lsn, seq_no) — including duplicate
    deliveries of the winner, which the downstream dropDuplicates collapses."""
    from tg_data_connector_spark.cdc.dedup import winner_filter

    rows = [
        ("k1", 5, 1, "a"), ("k1", 5, 3, "b"), ("k1", 2, 9, "c"),
        ("k2", 7, 0, "d"), ("k2", 7, 0, "d"),  # duplicate delivery of winner
        ("k3", 1, 1, "e"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, commit_lsn long, seq_no long, v string"
    )
    for bcast in (True, False):
        kept = winner_filter(df, "doc_id", broadcast=bcast)
        got = sorted((r["doc_id"], r["commit_lsn"], r["seq_no"], r["v"])
                     for r in kept.collect())
        assert got == [("k1", 5, 3, "b"), ("k2", 7, 0, "d"), ("k2", 7, 0, "d"),
                       ("k3", 1, 1, "e")], bcast


def test_version_pack_fast_path_matches_decimal(spark):
    """The bigint fast path (bounds-gated) must order versions identically to
    the decimal fallback, including the boundary where seq needs all its
    bits."""
    from pyspark.sql import functions as F

    from tg_data_connector_spark.cdc.dedup import version_pack

    rows = [(0, 0), (0, 7), (1, 0), (5, 6), (2**40 - 1, 1023), (7, 1023)]
    df = spark.createDataFrame(rows, "commit_lsn long, seq_no long")
    fast = df.select(
        version_pack(lsn_max=2**40 - 1, seq_max=1023).alias("p"),
        "commit_lsn", "seq_no",
    ).orderBy("p").collect()
    slow = df.select(
        version_pack().alias("p"), "commit_lsn", "seq_no"
    ).orderBy("p").collect()
    assert [(r["commit_lsn"], r["seq_no"]) for r in fast] == [
        (r["commit_lsn"], r["seq_no"]) for r in slow
    ]
    # bounds that DON'T fit 63 bits must fall back to decimal (no overflow)
    wide = version_pack(lsn_max=2**62, seq_max=2**62)
    t = df.select(wide.alias("p")).schema["p"].dataType.simpleString()
    assert t.startswith("decimal")


def test_replay_winner_shuffle_variant_e2e(spark, tmp_path, monkeypatch):
    """Full replay equivalence for the all-shuffle winner join (threshold 0,
    the scaling shape): every batch takes the shuffle and the final table
    matches the oracle."""
    from tg_data_connector_spark.cdc import ReplayConfig, ReplayEngine
    from tg_data_connector_spark.cdc.genlog import (
        gen_changelog,
        gen_seed_sequences,
        with_binary_payload,
    )
    from oracle import oracle_final_state

    n, d = 8_000, 600
    log_t = gen_changelog(spark, n, d, n_parts=4)
    log = with_binary_payload(log_t).drop("tokens")
    seed = gen_seed_sequences(spark, d)
    exp = oracle_final_state(seed, log_t).select(
        "doc_id", "tokens", "n_tok", "source"
    )
    monkeypatch.setattr(replay_mod, "BROADCAST_WINNERS_MAX_KEYS", 0)
    cfg = ReplayConfig(events_per_batch=3_000, parse_payload=True)
    table = LakeTable.create(
        spark, str(tmp_path / "shuffle"), SCHEMA, key="doc_id", n_buckets=8
    )
    table.append(seed)
    reports = ReplayEngine(spark, table, cfg).replay(log, run_id="shuffle")
    assert {r.winner_join.get("join") for r in reports} == {"shuffle"}
    final = table.read().select("doc_id", "tokens", "n_tok", "source")
    assert final.exceptAll(exp).count() == 0
    assert exp.exceptAll(final).count() == 0


def test_winner_join_auto_switch_by_batch_shape(spark, tmp_path, monkeypatch):
    """The winner join broadcasts only when the winner count is KNOWN to be
    within BROADCAST_WINNERS_MAX_KEYS. A batch of at most that many events
    broadcasts on the event bound alone, with no count job; a larger batch
    counts its persisted winner aggregate exactly, joins that same frame and
    releases it after the merge. Pinned on one log whose single batch has
    K winners: threshold >= events, threshold = K and threshold = K - 1.
    Every shape matches the oracle, also after a second replay on the same
    engine and a replay by a fresh engine on the same table."""
    from tg_data_connector_spark.cdc import ReplayConfig, ReplayEngine
    from tg_data_connector_spark.cdc.genlog import gen_changelog, gen_seed_sequences
    from oracle import oracle_final_state

    n, d = 4_000, 500
    log = gen_changelog(spark, n, d, n_parts=4)
    ev = log.count()  # n plus the generator's duplicate deliveries
    seed = gen_seed_sequences(spark, d)
    cache = spark._jsparkSession.sharedState().cacheManager()

    def run(limit, tag):
        table = LakeTable.create(
            spark, str(tmp_path / tag), SCHEMA, key="doc_id", n_buckets=8
        )
        table.append(seed)
        monkeypatch.setattr(replay_mod, "BROADCAST_WINNERS_MAX_KEYS", limit)
        cfg = ReplayConfig(events_per_batch=10**9)
        eng = ReplayEngine(spark, table, cfg)
        [rep] = eng.replay(log, run_id=tag)
        assert cache.isEmpty(), tag  # the counted aggregate was released
        return rep, eng, table, cfg

    def assert_oracle(table, events):
        final = table.read().select("doc_id", "tokens", "n_tok", "source")
        exp = oracle_final_state(seed, events).select(
            "doc_id", "tokens", "n_tok", "source"
        )
        assert final.exceptAll(exp).count() == 0
        assert exp.exceptAll(final).count() == 0

    rep, _, table, _ = run(ev, "bound")
    k = rep.deduped_keys
    assert rep.events == ev and 0 < k < ev
    assert rep.winner_join == {"join": "broadcast", "basis": "events", "n": ev}
    assert "winner_count" not in rep.phases  # no extra job
    assert_oracle(table, log)

    rep, _, table, _ = run(k, "exact")
    assert rep.winner_join == {"join": "broadcast", "basis": "winners", "n": k}
    assert "winner_count" in rep.phases
    assert_oracle(table, log)

    rep, eng, table, cfg = run(k - 1, "over")
    assert rep.winner_join == {"join": "shuffle", "basis": "winners", "n": k}
    assert rep.deduped_keys == k
    assert_oracle(table, log)

    def later(seed_, shift):
        return (
            gen_changelog(spark, n, d, n_parts=4, seed=seed_)
            .withColumn("offset", F.col("offset") + shift * 1_000_000)
            .withColumn("commit_lsn", F.col("commit_lsn") + shift * 10_000_000)
        )

    log2, log3 = later(11, 1), later(12, 2)
    [rep2] = eng.replay(log2, run_id="over2")  # same engine, later offsets
    assert rep2.winner_join["basis"] == "winners"
    [rep3] = ReplayEngine(spark, table, cfg).replay(log3, run_id="over3")
    assert rep3.winner_join["basis"] == "winners"
    assert cache.isEmpty()
    assert_oracle(table, log.unionByName(log2).unionByName(log3))


def test_winner_filter_plan_shape(spark):
    """Plan assertion: broadcast variant plans a BroadcastExchange; the
    shuffled variant must NOT build a driver-side broadcast anywhere."""
    from tg_data_connector_spark.cdc.dedup import winner_filter

    df = spark.createDataFrame(
        [("k%d" % i, i, 0, "v") for i in range(100)],
        "doc_id string, commit_lsn long, seq_no long, v string",
    )
    plan_b = winner_filter(df, "doc_id", broadcast=True)._jdf.queryExecution().executedPlan().toString()
    plan_s = winner_filter(df, "doc_id", broadcast=False)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan_b
    assert "Broadcast" not in plan_s
