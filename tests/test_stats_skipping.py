"""Generalized per-file column stats (stats_cols) + read(filters=...):
manifest pruning, row-level truth, MoR safety valve, op validation."""

import tempfile

import pytest
from pyspark.sql import functions as F

from tg_data_connector_spark.lake.table import LakeTable, TableSchema

SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)


def _rows(spark, lo, hi, source):
    n = F.col("id") % 10 + lo
    return spark.range(lo * 1000, lo * 1000 + (hi - lo)).select(
        F.concat(F.lit(source), F.lit("-"), F.col("id").cast("string")).alias(
            "doc_id"
        ),
        F.transform(F.sequence(F.lit(1), n.cast("int")), lambda i: i.cast("int")).alias(
            "tokens"
        ),
        n.cast("int").alias("n_tok"),
        F.lit(source).alias("source"),
    )


@pytest.fixture()
def table(spark):
    root = tempfile.mkdtemp(prefix="tgspark_skip_")
    t = LakeTable.create(
        spark,
        f"{root}/t",
        SCHEMA,
        key="doc_id",
        n_buckets=4,
        stats_cols=["source", "n_tok"],
    )
    # three appends, each source-homogeneous and n_tok-banded
    t.append(_rows(spark, 10, 60, "alpha"), lsn_col=F.lit(1))
    t.append(_rows(spark, 30, 80, "beta"), lsn_col=F.lit(2))
    t.append(_rows(spark, 50, 100, "gamma"), lsn_col=F.lit(3))
    return t


def test_manifest_has_cstats(table):
    snap = table.snapshot()
    with_stats = [f for f in snap.files if "cstats" in f]
    assert with_stats, "stats_cols table must record cstats"
    e = with_stats[0]
    assert set(e["cstats"]) == {"source", "n_tok"}
    mn, mx = e["cstats"]["source"]
    assert mn == mx  # source-homogeneous append


def test_equality_filter_prunes_files_and_matches(table):
    total = len(table.snapshot().files)
    got = table.read(filters=[("source", "=", "beta")])
    rows = got.collect()
    assert {r.source for r in rows} == {"beta"}
    assert len(rows) == 50
    assert table._last_scan_file_count < total  # alpha+gamma files skipped


def test_range_filter_prunes(table):
    table.read(filters=[("n_tok", "<", 20)]).count()
    pruned = table._last_scan_file_count
    table.read().count()
    full = table._last_scan_file_count
    assert pruned < full
    # correctness: pruned read equals full read filtered row-level
    a = table.read(filters=[("n_tok", "<", 20)])
    b = table.read().where("n_tok < 20")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_in_filter(table):
    got = table.read(filters=[("source", "in", ("alpha", "gamma"))])
    assert {r.source for r in got.collect()} == {"alpha", "gamma"}


def test_unsupported_op_rejected(table):
    with pytest.raises(ValueError):
        table.read(filters=[("source", "like", "a%")])


def test_mor_delta_disables_file_pruning(spark, table):
    """A delta file can hold the WINNING version of a key whose attribute
    fails the filter while the base holds an older passing version — file
    pruning must stand down until compaction folds the deltas."""
    from tg_data_connector_spark.lake.maintain import compact
    from tg_data_connector_spark.lake.merge import delta_append

    # move one alpha row's n_tok out of the filter range via a delta
    upd = spark.createDataFrame(
        [("alpha-10010", list(range(1, 100)), 99, "alpha")],
        SCHEMA.ddl(),
    ).select(
        "*",
        F.lit("U").alias("op"),
        F.lit(9).cast("bigint").alias("commit_lsn"),
        F.lit(0).cast("bigint").alias("seq_no"),
    )
    delta_append(table, upd)
    total = len(table.snapshot().files)
    got = table.read(filters=[("n_tok", "<", 50)])
    assert table._last_scan_file_count == total  # no pruning with deltas
    assert got.where("doc_id = 'alpha-10010'").count() == 0  # winner excluded
    compact(table)
    table.read(filters=[("n_tok", "<", 50)]).count()
    assert table._last_scan_file_count < len(table.snapshot().files) or (
        table._last_scan_file_count < total
    )  # pruning active again post-compaction


def _interleaved(spark, n):
    # n_tok VALUES are interleaved across arrival order: every append-time
    # file spans the full n_tok range, so append stats never prune
    i = F.col("id")
    n_tok = (i % 97 + 1).cast("int")
    return spark.range(n).select(
        F.concat(F.lit("k"), i.cast("string")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(1), n_tok), lambda x: x.cast("int")
        ).alias("tokens"),
        n_tok.alias("n_tok"),
        F.lit("web").alias("source"),
    )


def test_clustered_compaction_enables_pruning(spark):
    from tg_data_connector_spark.lake.maintain import compact

    root = tempfile.mkdtemp(prefix="tgspark_clus_")
    t = LakeTable.create(
        spark,
        f"{root}/t",
        SCHEMA,
        key="doc_id",
        n_buckets=4,
        stats_cols=["n_tok"],
        cluster_cols=["n_tok"],
    )
    t.append(_interleaved(spark, 4000), lsn_col=F.lit(1))
    # arrival order is value-interleaved: no pruning before compaction
    t.read(filters=[("n_tok", "<", 10)]).count()
    before_scan = t._last_scan_file_count
    before_total = len(t.snapshot().files)
    assert before_scan == before_total

    compact(t, files_per_bucket=4)  # cluster_by defaults to meta cluster_cols
    after_total = len(t.snapshot().files)
    assert after_total > 4  # several range-split files per bucket

    got = t.read(filters=[("n_tok", "<", 10)])
    rows = got.collect()
    assert t._last_scan_file_count < after_total  # pruning now effective
    # parity with a plain row-level filter
    exp = t.read().where("n_tok < 10")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    assert len(rows) == exp.count()


def test_clustered_compaction_preserves_lww_and_tombstones(spark):
    from tg_data_connector_spark.lake.maintain import compact
    from tg_data_connector_spark.lake.merge import delta_append

    root = tempfile.mkdtemp(prefix="tgspark_clus2_")
    t = LakeTable.create(
        spark,
        f"{root}/t",
        SCHEMA,
        key="doc_id",
        n_buckets=2,
        stats_cols=["n_tok"],
    )
    t.append(_interleaved(spark, 500), lsn_col=F.lit(1))
    changes = spark.createDataFrame(
        [
            ("k7", [1, 2], 2, "web", "U", 5, 0),
            ("k8", None, None, None, "D", 5, 1),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "op string, commit_lsn bigint, seq_no bigint",
    )
    delta_append(t, changes)
    baseline = t.read().orderBy("doc_id").collect()
    compact(t, cluster_by=["n_tok"], files_per_bucket=3)
    after = t.read().orderBy("doc_id").collect()
    assert baseline == after  # rewrite is logically a no-op
    assert t.read().where("doc_id = 'k8'").count() == 0


def test_cluster_by_unknown_column_rejected(spark, table):
    from tg_data_connector_spark.lake.maintain import compact

    with pytest.raises(ValueError):
        compact(table, cluster_by=["nope"])


def test_clustered_compaction_reads_footers_in_one_job(spark, tmp_path):
    """A clustered compaction writes several files per bucket, so the
    entries' rows and key bounds come from their parquet footers, and so do
    the stats_cols ranges: all of it rides ONE footer job, and every entry
    equals a direct pyarrow read of its file's footer statistics."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from tg_data_connector_spark.lake.maintain import compact

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2,
        sort_on_write=True, stats_cols=["n_tok", "source"],
        cluster_cols=["n_tok"],
    )
    t.append(_interleaved(spark, 2000), lsn_col=F.lit(1))
    sc = spark.sparkContext
    group = "clustered-compact-footers"
    sc.setJobGroup(group, "clustered compaction")
    try:
        compact(t, files_per_bucket=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    # the footer read is the one Python collect() the write launches from
    # lake/table.py (the stage is named after its call site)
    footer_jobs = [
        j
        for j in tracker.getJobIdsForGroup(group)
        if any(
            tracker.getStageInfo(s).name.startswith("collect at ")
            and "lake/table.py:" in tracker.getStageInfo(s).name
            for s in tracker.getJobInfo(j).stageIds
        )
    ]
    assert len(footer_jobs) == 1

    files = t.snapshot().files
    assert max(Counter(f["bucket"] for f in files).values()) > 1
    for f in files:
        md = pq.ParquetFile(os.path.join(t.root, f["path"])).metadata
        assert f["rows"] == md.num_rows
        bounds = {}
        for i in range(md.num_columns):
            col = md.row_group(0).column(i).path_in_schema
            stats = [
                md.row_group(g).column(i).statistics
                for g in range(md.num_row_groups)
            ]
            bounds[col] = [min(s.min for s in stats), max(s.max for s in stats)]
        assert [f["kmin"], f["kmax"]] == bounds["doc_id"], f
        assert f["cstats"] == {c: bounds[c] for c in ("n_tok", "source")}, f
