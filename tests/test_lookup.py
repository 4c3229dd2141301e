"""Point-lookup path: the Python murmur3 mirror, bucket-pruned scans, pushed
IN-filters, and key-sorted writes (lake/lookup.py + LakeTable.lookup)."""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tg_data_connector_spark.lake.lookup import bucket_of, murmur3_x86_32
from tg_data_connector_spark.lake.table import LakeTable, TableSchema

SCHEMA = TableSchema(
    [("doc_id", "string"), ("tokens", "array<int>"),
     ("n_tok", "int"), ("source", "string")]
)


def _rows(n, seed=7):
    rng = random.Random(seed)
    return [
        (
            f"doc-{i:06d}",
            [rng.randrange(50_000) for _ in range(rng.randrange(1, 8))],
            0,
            rng.choice(["web", "wiki", "code"]),
        )
        for i in range(n)
    ]


def _make(spark, root, n=400, sort_on_write=False, n_buckets=16):
    t = LakeTable.create(
        spark, root, SCHEMA, key="doc_id",
        n_buckets=n_buckets, sort_on_write=sort_on_write,
    )
    rows = [(d, tok, len(tok), s) for d, tok, _, s in _rows(n)]
    df = spark.createDataFrame(rows, SCHEMA.ddl())
    t.append(df, lsn_col=F.lit(1), seq_col=F.lit(0))
    return t


# ---------------------------------------------------------------- murmur3
def test_murmur3_matches_spark_hash(spark):
    """The driver-side mirror must equal F.hash()/HashPartitioning on real
    unicode: every UTF-8 length class mod 4, multi-byte planes, NULs,
    high-bit tail bytes (the signed-getByte case)."""
    rng = random.Random(42)
    pool = (
        "abcdefghijklmnopqrstuvwxyz0123456789-_/."
        "äöüßéàñç日本語한국어中文🙂🚀\x00\x7fÿࠀ￿"
    )
    cases = [""] + [
        "".join(rng.choice(pool) for _ in range(rng.randrange(1, 40)))
        for _ in range(500)
    ]
    got = spark.createDataFrame([(c,) for c in cases], "s string").select(
        "s", F.hash("s").alias("h"),
        F.pmod(F.hash("s"), F.lit(16)).cast("int").alias("b"),
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        assert murmur3_x86_32(r["s"].encode("utf-8")) == r["h"], repr(r["s"])
        assert bucket_of(r["s"], 16) == r["b"], repr(r["s"])


@given(st.text(max_size=64), st.integers(min_value=1, max_value=4096))
@settings(max_examples=300, deadline=None)
def test_bucket_of_range_and_determinism(s, n):
    b = bucket_of(s, n)
    assert 0 <= b < n
    assert b == bucket_of(s, n)
    h = murmur3_x86_32(s.encode("utf-8"))
    assert -(2**31) <= h < 2**31


# ---------------------------------------------------------------- lookup
def test_lookup_matches_filtered_read(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"))
    keys = ["doc-000007", "doc-000123", "doc-000399", "doc-000007"]
    got = t.lookup(keys)
    want = t.read().where(F.col("doc_id").isin(keys))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == 3


def test_lookup_prunes_buckets(spark, tmp_path):
    """A k-key lookup must read only the keys' buckets' files — the pruning
    that makes this O(|keys|) instead of O(table) at 100 TB."""
    t = _make(spark, str(tmp_path / "t"))
    keys = ["doc-000001", "doc-000042"]
    nb = t.bucket_count()
    want_buckets = {bucket_of(k, nb) for k in keys}
    snap = t.snapshot()
    allowed = {
        f["path"].rsplit("/", 1)[-1]
        for f in snap.files if f["bucket"] in want_buckets
    }
    scanned = {p.rsplit("/", 1)[-1] for p in t.lookup(keys).inputFiles()}
    assert scanned, "lookup plan reads no files?"
    assert scanned <= allowed
    assert len(scanned) < len(snap.files)


def test_lookup_pushes_in_filter(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"))
    plan = t.lookup(["doc-000005"])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("doc_id" in ln for ln in pushed), pushed


def test_lookup_empty_and_missing_keys(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"), n=50)
    assert t.lookup([]).count() == 0
    assert t.lookup(["no-such-key"]).count() == 0


def test_lookup_non_string_key_fallback(spark, tmp_path):
    schema = TableSchema([("k", "bigint"), ("v", "string")])
    t = LakeTable.create(spark, str(tmp_path / "ti"), schema, key="k",
                         n_buckets=8)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], schema.ddl())
    t.append(df, lsn_col=F.lit(1), seq_col=F.lit(0))
    got = t.lookup([3, 77])
    assert sorted(r["v"] for r in got.collect()) == ["v3", "v77"]
    assert len(set(got.inputFiles())) < len(t.snapshot().files)


# ---------------------------------------------------------------- sorting
def _file_key_runs(path):
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    out = []
    for i in range(pf.metadata.num_row_groups):
        col = pf.read_row_group(i, columns=["doc_id"]).column("doc_id")
        out.append(col.to_pylist())
    return out


def test_sort_on_write_clusters_keys(spark, tmp_path):
    t = _make(spark, str(tmp_path / "ts"), n=2000, sort_on_write=True,
              n_buckets=4)
    import os

    snap = t.snapshot()
    f = snap.files[0]
    runs = _file_key_runs(os.path.join(t.root, f["path"]))
    flat = [k for run in runs for k in run]
    assert flat == sorted(flat), "file not key-clustered"
    # parity: sorted layout changes bytes, never results
    t2 = _make(spark, str(tmp_path / "tu"), n=2000, sort_on_write=False,
               n_buckets=4)
    a, b = t.read(), t2.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sorted_merge_keeps_lookup_parity(spark, tmp_path):
    """sort_on_write through the MERGE path (write_data_files is shared):
    update half the keys, then lookup must see post-merge values."""
    from tg_data_connector_spark.lake.merge import merge_upsert

    t = _make(spark, str(tmp_path / "tm"), n=200, sort_on_write=True)
    upd = spark.createDataFrame(
        [(f"doc-{i:06d}", [9, 9], 2, "web", "U", 5, i)
         for i in range(0, 200, 2)],
        SCHEMA.ddl() + ", op string, commit_lsn bigint, seq_no bigint",
    )
    merge_upsert(t, upd, summary_update={"batch_id": "b1"})
    got = t.lookup(["doc-000002", "doc-000003"]).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert by_id["doc-000002"]["tokens"] == [9, 9]
    assert by_id["doc-000003"]["tokens"] != [9, 9]


# ------------------------------------------------------- file-stats skipping
def test_manifest_entries_carry_key_stats(spark, tmp_path):
    """Every data file's manifest entry records the key min/max (observe-path
    stats), and they are exact per-bucket bounds."""
    import os

    from tg_data_connector_spark.lake.table import _footer_stats

    t = _make(spark, str(tmp_path / "t"), n=300, n_buckets=8)
    snap = t.snapshot()
    assert snap.files
    for f in snap.files:
        assert "kmin" in f and "kmax" in f, f
        rows, stats = _footer_stats(
            (os.path.join(t.root, f["path"]), ("doc_id",))
        )
        assert rows == f["rows"]
        # observe-path stats are per-bucket; one file per bucket here, so
        # they must equal the footer's exact per-file bounds
        assert stats["doc_id"] == [f["kmin"], f["kmax"]]


def test_lookup_skips_files_outside_key_range(spark, tmp_path):
    """Three appends with disjoint key ranges stack three files per bucket;
    a point lookup must scan only the straddling file(s) — manifest-level
    data skipping on top of bucket pruning."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
        n_buckets=4, sort_on_write=True,
    )
    for lo in (0, 1000, 2000):
        rows = [(f"doc-{i:06d}", [i], 1, "web") for i in range(lo, lo + 300)]
        t.append(
            spark.createDataFrame(rows, SCHEMA.ddl()),
            lsn_col=F.lit(lo + 1), seq_col=F.lit(0),
        )
    snap = t.snapshot()
    key = "doc-001042"
    b = bucket_of(key, 4)
    in_bucket = [f for f in snap.files if f["bucket"] == b]
    assert len(in_bucket) == 3, "expected one file per append in the bucket"
    got = t.lookup([key])
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [1042]
    # bucket pruning alone would read 3 files; stats skipping reads 1
    assert t._last_scan_file_count == 1
    scanned = {p.rsplit("/", 1)[-1] for p in got.inputFiles()}
    assert len(scanned) == 1


def test_file_skipping_safe_under_mor_deltas(spark, tmp_path):
    """A delta file carrying a newer version of the probe key straddles the
    key's range, so skipping never hides the update or resurrects the base."""
    from tg_data_connector_spark.lake.merge import delta_append

    t = _make(spark, str(tmp_path / "t"), n=200, n_buckets=4)
    upd = spark.createDataFrame(
        [("doc-000042", [7, 7], 2, "web", "U", 9, 1)],
        SCHEMA.ddl() + ", op string, commit_lsn bigint, seq_no bigint",
    )
    delta_append(t, upd, summary_update={"batch_id": "d1"})
    got = t.lookup(["doc-000042"]).collect()
    assert len(got) == 1 and got[0]["tokens"] == [7, 7]


def test_file_skipping_integer_key(spark, tmp_path):
    """Integral keys get JSON-stable int stats and prune the same way."""
    schema = TableSchema([("k", "bigint"), ("v", "string")])
    t = LakeTable.create(spark, str(tmp_path / "ti"), schema, key="k",
                         n_buckets=4)
    for lo in (0, 1000):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, lo + 200)], schema.ddl()
        )
        t.append(df, lsn_col=F.lit(lo + 1), seq_col=F.lit(0))
    for f in t.snapshot().files:
        assert isinstance(f["kmin"], int) and isinstance(f["kmax"], int)
    got = t.lookup([1042])
    assert [r["v"] for r in got.collect()] == ["v1042"]
    assert t._last_scan_file_count == 1


def test_entries_without_stats_are_never_skipped(spark, tmp_path):
    """Legacy manifest entries (no kmin/kmax) must always be scanned —
    pruning is an optimization, never a correctness gate."""
    from tg_data_connector_spark.lake.table import _file_may_contain

    assert _file_may_contain({"path": "p", "bucket": 0}, ["x"])
    assert _file_may_contain({"kmin": "a", "kmax": "m"}, ["c"])
    assert not _file_may_contain({"kmin": "a", "kmax": "m"}, ["z"])
    # type-mismatched probe vs stored stats -> conservative keep
    assert _file_may_contain({"kmin": "a", "kmax": "m"}, [5])


def test_lookup_after_rename(spark, tmp_path):
    """Point lookup reads through the rename log: pre-rename files resolve
    the renamed column, bucket pruning unaffected (key untouched)."""
    from pyspark.sql import functions as F

    from tg_data_connector_spark.lake import LakeTable, TableSchema
    from tg_data_connector_spark.lake.evolve import apply_schema_change

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        TableSchema([("doc_id", "string"), ("tokens", "array<int>"),
                     ("n_tok", "int"), ("source", "string")]),
        "doc_id", 8, sort_on_write=True,
    )
    t.append(spark.range(100).select(
        F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"), F.lit("s0").alias("source"),
    ))
    apply_schema_change(t, '{"rename_column": {"name": "source", "to": "origin"}}')
    got = t.lookup(["d0003", "d0042"])
    rows = {r["doc_id"]: r["origin"] for r in got.collect()}
    assert rows == {"d0003": "s0", "d0042": "s0"}


# ------------------------------------------------------------ bloom filters
def _bloom_offsets(spark, table):
    """(path, bloom_offset) of the key column chunk of every data file,
    read from the parquet footers through the JVM (pyarrow's metadata
    wrapper does not expose bloom offsets)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out = []
    import os

    for e in table.snapshot().files:
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(table.root, e["path"]))
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        )
        try:
            for rg in rdr.getRowGroups():
                for col in rg.getColumns():
                    if col.getPath().toDotString() == table.meta()["key"]:
                        out.append((str(p), col.getBloomFilterOffset()))
        finally:
            rdr.close()
    return out


def test_no_bloom_by_default(spark, tmp_path):
    t = _make(spark, str(tmp_path / "nb"), n=100, n_buckets=4)
    offs = _bloom_offsets(spark, t)
    assert offs and all(off < 0 for _, off in offs)
