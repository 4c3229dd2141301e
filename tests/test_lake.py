import pytest
from pyspark.sql import functions as F

from tg_data_connector_spark.lake import LakeTable, TableSchema
from tg_data_connector_spark.lake.evolve import (
    SchemaEvolutionError,
    apply_schema_change,
    evolved_schema,
)

SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)


def _seed(spark, n=50):
    return spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int"), F.lit(1)).alias("tokens"),
        F.lit(2).alias("n_tok"),
        F.lit("s0").alias("source"),
    )


def test_create_append_read(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    assert t.current_version() == 0
    assert t.read().count() == 0
    t.append(_seed(spark))
    assert t.current_version() == 1
    df = t.read()
    assert df.count() == 50
    assert df.columns == ["doc_id", "tokens", "n_tok", "source"]
    row = df.where(F.col("doc_id") == "d7").collect()[0]
    assert row["tokens"] == [7, 1]


def test_bucket_pruned_read(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark))
    snap = t.snapshot()
    total = sum(f["rows"] for f in snap.files)
    assert total == 50
    b0 = t.read(buckets=[0]).count()
    assert b0 == sum(f["rows"] for f in snap.files if f["bucket"] == 0)
    assert 0 < b0 < 50


def test_snapshot_isolation(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark, 10))
    v1 = t.current_version()
    t.append(_seed(spark, 5).withColumn("doc_id", F.concat(F.lit("x"), F.col("doc_id"))))
    assert t.read(t.snapshot(v1)).count() == 10
    assert t.read().count() == 15


def test_evolve_add_and_widen(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark, 10))
    apply_schema_change(t, '{"add_column": {"name": "lang", "type": "string"}}')
    df = t.read()
    assert "lang" in df.columns
    assert df.where(F.col("lang").isNull()).count() == 10  # old files null-filled
    apply_schema_change(t, '{"widen": {"name": "n_tok", "to": "bigint"}}')
    assert dict(t.snapshot().schema().fields)["n_tok"] == "bigint"
    assert t.read().schema["n_tok"].dataType.simpleString() == "bigint"
    assert t.read().count() == 10
    # idempotent re-apply is a no-op
    assert apply_schema_change(t, '{"widen": {"name": "n_tok", "to": "bigint"}}') is None


def test_evolve_rejects_unsafe(spark):
    with pytest.raises(SchemaEvolutionError):
        evolved_schema(SCHEMA, '{"widen": {"name": "n_tok", "to": "smallint"}}')
    with pytest.raises(SchemaEvolutionError):
        evolved_schema(SCHEMA, '{"add_column": {"name": "n_tok", "type": "int"}}')


def test_crash_between_stage_and_publish_invisible(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark, 10))
    v = t.current_version()
    files = t.write_data_files(
        _seed(spark, 3)
        .withColumn("_lsn", F.lit(0).cast("bigint"))
        .withColumn("_seq", F.lit(0).cast("bigint"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_b", F.lit(0)),
        schema_id=1,
    )
    with pytest.raises(RuntimeError):
        t.commit(files, replace_buckets=None, crash_before_publish=True)
    # staged manifest exists but pointer never moved: readers see the old state
    assert t.current_version() == v
    assert t.read().count() == 10
    # next commit skips over the orphaned version file and succeeds
    t.append(_seed(spark, 2).withColumn("doc_id", F.concat(F.lit("y"), F.col("doc_id"))))
    assert t.read().count() == 12


def test_bucket_hash_format_validated(spark, tmp_table_root):
    """A table laid out under a different key->bucket hash must be refused at
    open — merging it would silently corrupt bucket pruning and the b= layout."""
    import json
    import os

    import pytest as _pytest

    from tg_data_connector_spark.lake.table import LakeTable, TableSchema

    t = LakeTable.create(
        spark, tmp_table_root, TableSchema([("doc_id", "string")]), key="doc_id"
    )
    assert t.meta()["bucket_hash"] == "murmur3_pmod"
    # tamper: simulate a table written by the old xxhash64 layout
    mp = os.path.join(tmp_table_root, "_meta.json")
    with open(mp) as f:
        m = json.load(f)
    m["bucket_hash"] = "xxhash64_pmod"
    with open(mp, "w") as f:
        json.dump(m, f)
    t2 = LakeTable(spark, tmp_table_root)
    with _pytest.raises(RuntimeError, match="bucket hash"):
        t2.meta()
    # legacy table with no recorded hash id is refused too
    del m["bucket_hash"]
    with open(mp, "w") as f:
        json.dump(m, f)
    t3 = LakeTable(spark, tmp_table_root)
    with _pytest.raises(RuntimeError, match="bucket hash"):
        t3.meta()


def test_local_table_fs_primitives(tmp_path):
    """The two guarantees the commit protocol needs from any FS backend:
    create-fails-if-exists (version claim) and atomic pointer replace."""
    import os

    import pytest as _pytest

    from tg_data_connector_spark.lake.fs import LocalTableFS

    fs = LocalTableFS()
    d = str(tmp_path / "t")
    fs.makedirs(d)
    p = os.path.join(d, "v1.json")
    fs.write_text_excl(p, "{}")
    with _pytest.raises(FileExistsError):
        fs.write_text_excl(p, "{}")  # second writer loses the version claim
    cur = os.path.join(d, "_current")
    with fs.write_text_atomic(cur) as f:
        f.write("1")
    assert fs.read_text(cur) == "1"
    # a failed atomic write leaves the old value intact and no temp litter
    try:
        with fs.write_text_atomic(cur) as f:
            f.write("2")
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert fs.read_text(cur) == "1"
    assert [x for x in fs.listdir(d) if ".tmp-" in x] == []


def test_commit_writes_only_touched_bucket_shards(spark, tmp_path):
    """Sharded metadata: a merge touching ONE bucket of a many-bucket table
    writes exactly one manifest shard (+ the version file) — commit cost is
    independent of total table file count."""
    import json

    from tg_data_connector_spark.lake import merge_upsert

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id",
                         n_buckets=16)
    t.append(_seed(spark, 200))  # populates many buckets
    batch = spark.createDataFrame(
        [("d7", [9, 9], 2, "s1", "U", 5, 0)],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "op string, commit_lsn bigint, seq_no bigint",
    )
    merge_upsert(t, batch)
    assert t._last_commit_shard_writes == 1
    d = json.loads(t.fs.read_text(t._vpath(t.current_version())))
    assert "files" not in d  # refs only, never the inline file list
    assert len(d["manifests"]) >= 10
    assert t.read().where(F.col("doc_id") == "d7").collect()[0]["tokens"] == [9, 9]


def test_version_file_without_manifests_is_refused(spark, tmp_path):
    """The engine reads only the sharded layout: a version file without
    manifest-shard refs (the pre-sharding inline `files` list) raises a
    ValueError that names the file, instead of loading."""
    import json

    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark, 40))
    snap = t.snapshot()
    inline = snap.to_json()
    inline.pop("manifests")
    inline["files"] = snap.files
    with open(t._vpath(snap.version), "w") as f:
        json.dump(inline, f)
    t2 = LakeTable(spark, root)  # fresh handle, fresh cache
    with pytest.raises(ValueError, match=f"v{snap.version:08d}.json"):
        t2.snapshot()


def test_hadoop_table_fs_primitives(spark, tmp_path):
    """The same two commit-protocol guarantees, through the JVM Hadoop
    FileSystem API (file:// scheme exercises the real py4j plumbing a
    hdfs://-rooted table would use)."""
    import pytest as _pytest

    from tg_data_connector_spark.lake.fs import HadoopTableFS

    base = f"file://{tmp_path}/h"
    fs = HadoopTableFS(spark, base)
    fs.makedirs(base)
    p = f"{base}/v1.json"
    fs.write_text_excl(p, "{}")
    with _pytest.raises(FileExistsError):
        fs.write_text_excl(p, "{}")  # second writer loses the version claim
    assert fs.read_text(p) == "{}"
    cur = f"{base}/_current"
    with fs.write_text_atomic(cur) as f:
        f.write("1")
    assert fs.read_text(cur) == "1"
    with fs.write_text_atomic(cur) as f:
        f.write("2")  # overwrite swap, not create
    assert fs.read_text(cur) == "2"
    try:
        with fs.write_text_atomic(cur) as f:
            f.write("3")
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert fs.read_text(cur) == "2"  # failed write leaves the pointer intact
    assert [x for x in fs.listdir(base) if ".tmp-" in x] == []
    fs.makedirs(f"{base}/sub")
    assert fs.isdir(f"{base}/sub") and not fs.isdir(p)
    fs.remove(p)
    assert not fs.exists(p)
    with _pytest.raises(FileNotFoundError):
        fs.remove(p)
    fs.rmtree(f"{base}/sub")
    assert not fs.exists(f"{base}/sub")


def test_lake_table_on_hadoop_fs(spark, tmp_path):
    """Full table lifecycle — create, append, MERGE, time travel, GC — with
    every metadata byte routed through the Hadoop API over a file:// root,
    the shape a hdfs:///warehouse table runs."""
    from tg_data_connector_spark.lake import HadoopTableFS, LakeTable, merge_upsert
    from tg_data_connector_spark.lake.maintain import gc_orphans

    root = f"file://{tmp_path}/warehouse/t"
    fs = HadoopTableFS(spark, root)
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=4, fs=fs)
    t.append(_seed(spark, 40))
    assert LakeTable.exists(root, fs=fs)
    batch = spark.createDataFrame(
        [("d3", [9], 1, "s1", "U", 5, 0), ("d7", None, None, None, "D", 5, 1)],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "op string, commit_lsn bigint, seq_no bigint",
    )
    merge_upsert(t, batch)
    df = t.read()
    assert df.count() == 39
    assert df.where(F.col("doc_id") == "d3").collect()[0]["tokens"] == [9]
    assert df.where(F.col("doc_id") == "d7").count() == 0
    # time travel still sees the pre-merge snapshot
    assert t.read(snapshot=t.snapshot(1)).count() == 40
    # fresh handle over the same URI reads the published pointer
    t2 = LakeTable(spark, root, fs=HadoopTableFS(spark, root))
    assert t2.current_version() == t.current_version()
    assert t2.read().count() == 39
    assert gc_orphans(t, min_age_seconds=0) == []  # nothing orphaned by a clean history


def test_table_codec_overrides_session_default(spark, tmp_path):
    """Data files are zstd whatever the session's parquet codec (snappy
    here): they carry the codec's suffix and read back identically, and
    every writer of the table agrees."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4,
    )
    t.append(_seed(spark))
    paths = [f["path"] for f in t.snapshot().files]
    assert paths and all(p.endswith(".zstd.parquet") for p in paths)
    assert t.read().count() == 50
    # a second handle (fresh session default would be snappy) writes zstd too
    t2 = LakeTable(spark, str(t.root))
    t2.append(_seed(spark, 5).withColumn("doc_id", F.concat(F.lit("x"), F.col("doc_id"))))
    new = [f["path"] for f in t2.snapshot().files if f["path"] not in paths]
    assert new and all(p.endswith(".zstd.parquet") for p in new)


def test_rename_column_resolves_old_files(spark, tmp_table_root):
    """rename_column is metadata-only: files written before the rename
    resolve the new name back through the per-version rename log, chained
    renames compose, and a post-rename merge writes under the new name."""
    from tg_data_connector_spark.lake.merge import merge_upsert

    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark))  # schema 1 files carry column 'source'
    apply_schema_change(t, '{"rename_column": {"name": "source", "to": "origin"}}')
    assert t.snapshot().schema().names() == ["doc_id", "tokens", "n_tok", "origin"]
    df = t.read()
    assert "origin" in df.columns and "source" not in df.columns
    assert df.where(F.col("origin") == "s0").count() == 50  # old files resolve
    # post-rename write uses the new name; old and new files align in one read
    ev = spark.createDataFrame(
        [("d1", [9], 1, "s1", "U", 10, 0)],
        "doc_id string, tokens array<int>, n_tok int, origin string, "
        "op string, commit_lsn bigint, seq_no bigint",
    )
    merge_upsert(t, ev)
    got = {r["doc_id"]: r["origin"] for r in t.read().collect()}
    assert got["d1"] == "s1" and got["d2"] == "s0"
    # chained rename: origin -> provenance still resolves the schema-1 files
    apply_schema_change(
        t, '{"rename_column": {"name": "origin", "to": "provenance"}}'
    )
    assert t.read().where(F.col("provenance") == "s0").count() == 49
    # idempotent re-apply is a no-op
    assert apply_schema_change(
        t, '{"rename_column": {"name": "origin", "to": "provenance"}}'
    ) is None


def test_drop_column_and_resurrect_guard(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key="doc_id", n_buckets=4)
    t.append(_seed(spark))
    apply_schema_change(t, '{"drop_column": {"name": "n_tok"}}')
    df = t.read()
    assert "n_tok" not in df.columns and df.count() == 50
    assert apply_schema_change(t, '{"drop_column": {"name": "n_tok"}}') is None
    # re-adding a historical name would resurrect old file bytes: rejected
    with pytest.raises(SchemaEvolutionError, match="resurrect"):
        apply_schema_change(
            t, '{"add_column": {"name": "n_tok", "type": "int"}}'
        )
    with pytest.raises(SchemaEvolutionError, match="resurrect"):
        apply_schema_change(
            t, '{"rename_column": {"name": "source", "to": "n_tok"}}'
        )
    # the key column is load-bearing: rename/drop refused
    with pytest.raises(SchemaEvolutionError, match="key"):
        apply_schema_change(
            t, '{"rename_column": {"name": "doc_id", "to": "id"}}'
        )
    with pytest.raises(SchemaEvolutionError, match="key"):
        apply_schema_change(t, '{"drop_column": {"name": "doc_id"}}')
