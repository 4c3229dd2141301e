"""Streaming change-feed source (``readStream.format("lake_cdf")``) parity:
the stream must deliver exactly what batch ``LakeTable.changes()`` computes —
both read ``LakeTable.change_plan``: COW commits diffed against the parent,
MoR delta commits verbatim, compaction skipped — pick up commits that land
between triggers, and refuse a columnwise table."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from tg_data_connector_spark.lake import LakeTable, TableSchema, merge_upsert
from tg_data_connector_spark.lake.maintain import compact
from tg_data_connector_spark.lake.merge import delta_append
from tg_data_connector_spark.streaming.cdf_source import read_change_stream

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


def _tbl(spark, root, n=20, nb=4):
    t = LakeTable.create(spark, root, SCHEMA, "doc_id", nb)
    seed = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
    )
    t.append(seed)
    return t


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV)


def _drain(spark, root, v0, checkpoint, name):
    df = read_change_stream(spark, root, starting_version=v0)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _assert_same(stream_df, batch_df):
    cols = sorted(batch_df.columns)
    s = stream_df.select(cols)
    b = batch_df.select(cols)
    assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0
    assert s.count() == b.count()


def _cow_merge(spark, t):
    merge_upsert(
        t,
        _ev(spark, [("d1", [7], 1, "s", "U", 10, 0), ("d2", [], 0, "s", "D", 11, 0)]),
        summary_update={"batch_id": "b1"},
    )


def _mor_delta(spark, t):
    delta_append(
        t,
        _ev(spark, [("d3", [8, 8], 2, "s", "U", 12, 0),
                    ("d4", None, None, None, "D", 12, 1)]),
        summary_update={"batch_id": "b2"},
    )


def _compaction(spark, t):
    # a compaction in the window skips; the COW merge after it diffs
    # against the compacted files
    compact(t)
    _cow_merge(spark, t)


def _rebucket(spark, t):
    from tg_data_connector_spark.lake.maintain import rebucket

    rebucket(t, 8)
    _cow_merge(spark, t)


def _bulk_append(spark, t):
    t.append(
        spark.createDataFrame(
            [("d40", [4], 1, "s"), ("d41", [5], 1, "s")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ),
        lsn_col=F.lit(50),
    )


def _delete_cow(spark, t):
    from tg_data_connector_spark.lake.dml import delete_where

    delete_where(t, "doc_id in ('d5', 'd6')", mode="cow")


def _delete_mor(spark, t):
    from tg_data_connector_spark.lake.dml import delete_where

    delete_where(t, "doc_id in ('d5', 'd6')", mode="mor")


def _add_column(spark, t):
    from tg_data_connector_spark.lake.evolve import apply_schema_change

    _mor_delta(spark, t)
    apply_schema_change(t, '{"add_column": {"name": "lang", "type": "string"}}')
    merge_upsert(
        t,
        spark.createDataFrame(
            [("d2", [6], 1, "s", "en", "U", 41, 0)],
            "doc_id string, tokens array<int>, n_tok int, source string, "
            "lang string, op string, commit_lsn bigint, seq_no bigint",
        ),
        summary_update={"batch_id": "b3"},
    )


def _rename(spark, t):
    from tg_data_connector_spark.lake.evolve import apply_schema_change

    _cow_merge(spark, t)
    apply_schema_change(t, '{"rename_column": {"name": "source", "to": "origin"}}')
    merge_upsert(
        t,
        spark.createDataFrame(
            [("d9", [6], 1, "post", "U", 41, 0)],
            "doc_id string, tokens array<int>, n_tok int, origin string, "
            "op string, commit_lsn bigint, seq_no bigint",
        ),
        summary_update={"batch_id": "b3"},
    )


@pytest.mark.parametrize(
    "commits",
    [_cow_merge, _mor_delta, _compaction, _rebucket, _bulk_append,
     _delete_cow, _delete_mor, _add_column, _rename],
    ids=lambda f: f.__name__.strip("_"),
)
def test_stream_matches_batch_changes(spark, tmp_table_root, tmp_path, commits):
    """Every commit kind streams the same bag of rows as batch changes():
    COW rewrites and bulk appends diffed against the parent, MoR deltas
    verbatim, compaction and rebucket skipped, older files aligned to the
    stream's schema (null-filled, renames resolved)."""
    t = _tbl(spark, tmp_table_root)
    delta_append(  # a delta before the window, for compaction to fold
        t, _ev(spark, [("d7", [3], 1, "s", "U", 5, 0)]),
        summary_update={"batch_id": "b0"},
    )
    v0 = t.current_version()
    commits(spark, t)
    name = f"cdf_parity_{commits.__name__.strip('_')}"
    got = _drain(spark, tmp_table_root, v0, str(tmp_path / "cp1"), name)
    want = t.changes(v0)
    _assert_same(got, want)
    assert want.count() > 0


def test_stream_refuses_columnwise_table(spark, tmp_path):
    """A resolution="partial" table's delta rows are partial images (NULL =
    unchanged); streamed verbatim, a downstream LWW apply would overwrite
    columns with NULL. Opening the stream fails and points to changes(),
    which emits resolved full images; nothing is streamed."""
    from tg_data_connector_spark.cdc.replay import ReplayConfig, ReplayEngine

    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, SCHEMA, key="doc_id", n_buckets=4, resolution="partial"
    )
    t.append(
        spark.createDataFrame(
            [("a", [1], 1, "seed"), ("b", [2], 1, "seed")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ),
        lsn_col=F.lit(-1),
    )
    v0 = t.current_version()
    cfg = ReplayConfig(resolution="partial", merge_mode="mor")
    ReplayEngine(spark, t, cfg).replay(
        spark.createDataFrame(
            [("a", "U", 10, 0, None, None, "upd", 0, 0)],
            "doc_id string, op string, commit_lsn long, seq_no long, "
            "tokens array<int>, n_tok int, source string, part int, "
            "offset long",
        ),
        run_id="p",
    )
    with pytest.raises(AnalysisException, match=r"LakeTable\.changes\(\)"):
        read_change_stream(spark, root, starting_version=v0)
    # the batch feed serves the same table: one full image for a
    assert [r["tokens"] for r in t.changes(v0).collect()] == [[1]]


def test_stream_resumes_across_new_commits(spark, tmp_table_root, tmp_path):
    """Commits landing after a drain are picked up by the next trigger from
    the SAME checkpoint — the offset (snapshot version) is durable."""
    t = _tbl(spark, tmp_table_root)
    v0 = t.current_version()
    merge_upsert(t, _ev(spark, [("d5", [1], 1, "s", "U", 20, 0)]),
                 summary_update={"batch_id": "b1"})
    cp = str(tmp_path / "cp2")
    sink = str(tmp_path / "sink")

    def drain_to_files():
        # memory sink cannot recover a checkpoint; the parquet sink can
        df = read_change_stream(spark, tmp_table_root, starting_version=v0)
        q = (
            df.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain_to_files()
    assert spark.read.parquet(sink).count() == 1
    merge_upsert(t, _ev(spark, [("d6", [2], 1, "s", "U", 21, 0)]),
                 summary_update={"batch_id": "b2"})
    drain_to_files()
    got = spark.read.parquet(sink)
    # second run delivered ONLY the new commit (offset came from checkpoint)
    assert got.count() == 2
    assert sorted(r["doc_id"] for r in got.collect()) == ["d5", "d6"]


def test_stream_defaults_to_tail_only(spark, tmp_table_root, tmp_path):
    """No startingVersion -> history before the first query start never
    streams; commits after it do (the reader pins the current version when
    the QUERY starts — stream definition is lazy)."""
    t = _tbl(spark, tmp_table_root)
    merge_upsert(t, _ev(spark, [("d7", [1], 1, "s", "U", 30, 0)]),
                 summary_update={"batch_id": "b0"})
    cp, sink = str(tmp_path / "cp3"), str(tmp_path / "sink3")

    def drain():
        q = (
            read_change_stream(spark, tmp_table_root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # pins the post-d7 version in the checkpoint; delivers nothing
    merge_upsert(t, _ev(spark, [("d8", [2], 1, "s", "U", 31, 0)]),
                 summary_update={"batch_id": "b1"})
    drain()
    got = spark.read.parquet(sink)
    assert [r["doc_id"] for r in got.collect()] == ["d8"]  # d7 never streamed


def test_stream_schema_evolution_alignment(spark, tmp_table_root, tmp_path):
    """Files written before an add-column commit stream null-filled up to the
    pinned stream schema (the _read_file_entries rules, re-done in Arrow)."""
    from tg_data_connector_spark.lake.evolve import apply_schema_change

    t = _tbl(spark, tmp_table_root)
    v0 = t.current_version()  # stream range INCLUDES the pre-evolution commit
    merge_upsert(t, _ev(spark, [("d1", [5], 1, "s", "U", 40, 0)]),
                 summary_update={"batch_id": "b1"})
    apply_schema_change(t, '{"add_column": {"name": "lang", "type": "string"}}')
    merge_upsert(
        t,
        spark.createDataFrame(
            [("d2", [6], 1, "s", "en", "U", 41, 0)],
            "doc_id string, tokens array<int>, n_tok int, source string, "
            "lang string, op string, commit_lsn bigint, seq_no bigint",
        ),
        summary_update={"batch_id": "b2"},
    )
    got = _drain(spark, tmp_table_root, v0, str(tmp_path / "cp4"), "cdf_evo")
    _assert_same(got, t.changes(v0))
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows["d2"]["lang"] == "en"
    assert rows["d1"]["lang"] is None  # pre-evolution file, null-filled
