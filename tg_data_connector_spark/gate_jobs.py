"""Gate queries for the config-driven job surface, split planners, and
engine-protocol rows of SURVEY §2 that previously had only pytest evidence:
S2/S3 (split predicates), S4 (sharded tables), S5 (querySql), S6 (csv_multi),
S7 (typed CSV: codec/skip/nullFormat/const/quarantine), W2 (writeMode MERGE),
W3 (preSql/postSql/@table), W4 (file writer), T5/T6 (transformer registry),
E3/E4 (crash/resume idempotence), E6 (dryRun), X3 (byte-based batch sizing).

Pattern (same as gate.py's flagship): each query fn STAGES deterministic
input derived from the driver's parquet tables (so the DuckDB oracle can
recompute the expected result from those same tables), drives the REAL
public surface (run_job / pre_check / ReplayEngine / read_typed_csv), and
returns the observable result as a DataFrame.

Split-planner entries verify the reference's semantic contract — the emitted
predicates DISJOINTLY COVER the key domain (every row matched by exactly one
slice; ``SingleTableSplitUtil.java:33-124``, ``RangeSplitUtil.java:43-128``) —
by tagging each row with its match count; the oracle states the invariant
(covered_once == total == count(*)) directly from the base table.
"""

from __future__ import annotations

import gzip
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .job import pre_check, run_job
from .lake import LakeTable
from .sources.jdbc import (
    quantile_split_predicates,
    range_split_predicates,
    read_jdbc_split,
    string_range_split_predicates,
)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _match_counts(df: DataFrame, preds: list[str]) -> DataFrame:
    """(total, covered_once) from a predicate list: every row must fall in
    exactly one slice for a correct split plan."""
    matches = reduce(
        lambda a, b: a + b, [F.expr(p).cast("int") for p in preds]
    )
    return df.select(matches.alias("m")).agg(
        F.count("*").alias("total"),
        F.sum((F.col("m") == 1).cast("bigint")).alias("covered_once"),
    )


# ------------------------------------------------------- S2: numeric PK split
def q_split_range_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    row = o.agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")).collect()[0]
    preds = range_split_predicates(int(row["lo"]), int(row["hi"]), 8, "o_orderkey")
    out = _match_counts(o, preds)
    return out.select(
        F.lit(len(preds)).cast("int").alias("n_slices"), "total", "covered_once"
    )


def sql_split_range_cover() -> str:
    # 8 range slices + the dedicated NULL slice = 9 predicates, and a correct
    # plan covers every row exactly once
    return "SELECT 9 AS n_slices, count(*) AS total, count(*) AS covered_once FROM orders"


# ------------------------------------------- S2: string PK split (radix-128)
def q_split_string_radix_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(_t(sf_dir, "customer"))
    row = c.agg(F.min("c_name").alias("lo"), F.max("c_name").alias("hi")).collect()[0]
    preds = string_range_split_predicates(row["lo"], row["hi"], 8, "c_name")
    return _match_counts(c, preds)


def sql_split_string_radix_cover() -> str:
    return "SELECT count(*) AS total, count(*) AS covered_once FROM customer"


# --------------------------------------------- S3: equi-depth (sample) split
def q_split_quantile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_t(sf_dir, "lineitem")).select("l_orderkey")
    preds = quantile_split_predicates(li, "l_orderkey", 8)
    return _match_counts(li, preds)


def sql_split_quantile_cover() -> str:
    return "SELECT count(*) AS total, count(*) AS covered_once FROM lineitem"


# ----------------------------------------------------- S4: sharded expansion
def q_sharded_table_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage `region` as 3 physical shards, read back through the job reader's
    sharded_parquet pattern — the union must reconstruct the table."""
    from .job import _read_flagged

    root = tempfile.mkdtemp(prefix="tg_gate_shard_")
    r = spark.read.parquet(_t(sf_dir, "region"))
    for i in range(3):
        r.where(F.pmod(F.col("r_regionkey"), F.lit(3)) == i).write.mode(
            "overwrite"
        ).parquet(f"{root}/shard{i}")
    df = _read_flagged(
        spark, {"type": "sharded_parquet", "pattern": f"{root}/shard[0-2]"}
    )
    return df.select("r_regionkey", "r_name")


def sql_sharded_table_union() -> str:
    return "SELECT r_regionkey, r_name FROM region"


# ------------------------------------------------------------- S5: querySql
def q_query_sql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .job import _read_flagged

    return _read_flagged(
        spark,
        {
            "type": "sql",
            "views": {"nation_v": _t(sf_dir, "nation")},
            "querySql": [
                "SELECT n_nationkey, n_name FROM nation_v WHERE n_regionkey < 2",
                "SELECT n_nationkey, n_name FROM nation_v WHERE n_regionkey >= 2",
            ],
        },
    )


def sql_query_sql_union() -> str:
    return "SELECT n_nationkey, n_name FROM nation"


# ----------------------------------- S6: per-object column-index projection
def q_csv_multi_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two staged CSV objects with DIFFERENT column orders; per-object entry
    lists project each into the same output schema (GcsReader.java:187-205)."""
    root = tempfile.mkdtemp(prefix="tg_gate_csvmulti_")
    n = spark.read.parquet(_t(sf_dir, "nation")).collect()
    a, b = f"{root}/a.csv", f"{root}/b.csv"
    with open(a, "w") as f:  # (key, name) for region < 2
        for r in n:
            if r["n_regionkey"] < 2:
                f.write(f"{r['n_nationkey']},{r['n_name']}\n")
    with open(b, "w") as f:  # (junk, name, key) for region >= 2
        for r in n:
            if r["n_regionkey"] >= 2:
                f.write(f"x,{r['n_name']},{r['n_nationkey']}\n")
    from .job import _read_flagged

    df = _read_flagged(
        spark,
        {
            "type": "csv_multi",
            "objects": [
                {"path": a, "column": [
                    {"type": "long", "index": 0, "name": "key"},
                    {"type": "string", "index": 1, "name": "name"},
                ]},
                {"path": b, "column": [
                    {"type": "long", "index": 2, "name": "key"},
                    {"type": "string", "index": 1, "name": "name"},
                ]},
            ],
        },
    )
    return df.where(~F.col("_dirty")).select("key", "name")


def sql_csv_multi_projection() -> str:
    return "SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS name FROM nation"


# ------- S7: typed CSV (gzip codec, per-file skip, nullFormat, const, dirty)
def q_csv_typed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One staged gzip CSV derived from `customer`: 2 junk lines to skip, a
    nullFormat marker, a const column, and rows whose double cell fails the
    typed cast (quarantined — excluded from the clean output)."""
    from .sources.files import ColumnEntry, read_typed_csv

    root = tempfile.mkdtemp(prefix="tg_gate_csv_")
    path = f"{root}/cust.csv.gz"
    rows = spark.read.parquet(_t(sf_dir, "customer")).select(
        "c_custkey", "c_name", "c_acctbal"
    ).collect()
    with gzip.open(path, "wt") as f:
        f.write("# staged by gate\n# second junk line\n")
        for r in rows:
            k = int(r["c_custkey"])
            name = r"\N" if k % 53 == 0 else r["c_name"]
            acct = "bad!" if k % 97 == 0 else repr(float(r["c_acctbal"]))
            f.write(f"{k},{name},{acct}\n")
    clean, dirty = read_typed_csv(
        spark,
        path,
        [
            ColumnEntry(type="long", index=0, name="custkey"),
            ColumnEntry(type="string", index=1, name="name"),
            ColumnEntry(type="double", index=2, name="acct"),
            ColumnEntry(type="string", value="gate", name="tag"),
        ],
        skip_lines=2,
        compression="gzip",
        null_format=r"\N",
    )
    return clean.select(
        "custkey", "name", F.round(F.col("acct"), 2).alias("acct"), "tag"
    )


def sql_csv_typed_read() -> str:
    return """
    SELECT c_custkey AS custkey,
           CASE WHEN c_custkey % 53 = 0 THEN NULL ELSE c_name END AS name,
           round(c_acctbal, 2) AS acct,
           'gate' AS tag
    FROM customer WHERE c_custkey % 97 <> 0
    """


# ------- S7 (cont.): snappy codec family — framing + hadoop containers
def q_csv_snappy_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CSV through BOTH snappy container formats the reference's codec
    switch supports (``UnstructuredStorageReaderUtil.java:117-213``): one
    framing-snappy object (with a junk line to skip, exercising the
    whole-file decode path) and one hadoop-snappy object (multi-block),
    unioned. sources/snappy_codec.py parses the containers and pyarrow's
    bundled snappy encodes and decodes the raw blocks, so the staged
    objects carry real back-references, not only literals."""
    import os

    from .sources.files import ColumnEntry, read_typed_csv
    from .sources.snappy_codec import (
        framing_snappy_compress,
        hadoop_snappy_compress,
    )

    root = tempfile.mkdtemp(prefix="tg_gate_sz_")
    rows = spark.read.parquet(_t(sf_dir, "supplier")).select(
        "s_suppkey", "s_name", "s_acctbal"
    ).collect()
    body = "".join(
        f"{int(r['s_suppkey'])},{r['s_name']},{float(r['s_acctbal'])!r}\n"
        for r in rows
    ).encode()
    os.makedirs(f"{root}/fz")
    os.makedirs(f"{root}/hs")
    with open(f"{root}/fz/s.csv.sz", "wb") as f:
        f.write(framing_snappy_compress(b"# staged by gate\n" + body, chunk=4096))
    with open(f"{root}/hs/s.csv.snappy", "wb") as f:
        f.write(hadoop_snappy_compress(body, block=4096))
    cols = [
        ColumnEntry(type="long", index=0, name="suppkey"),
        ColumnEntry(type="string", index=1, name="name"),
        ColumnEntry(type="double", index=2, name="acct"),
    ]
    a, _ = read_typed_csv(
        spark, f"{root}/fz", cols, skip_lines=1, compression="framing-snappy"
    )
    b, _ = read_typed_csv(spark, f"{root}/hs", cols, compression="hadoop-snappy")
    return a.unionByName(b).select(
        "suppkey", "name", F.round(F.col("acct"), 2).alias("acct")
    )


def sql_csv_snappy_read() -> str:
    return """
    SELECT s_suppkey AS suppkey, s_name AS name,
           round(s_acctbal, 2) AS acct
    FROM supplier
    UNION ALL
    SELECT s_suppkey AS suppkey, s_name AS name,
           round(s_acctbal, 2) AS acct
    FROM supplier
    """


# --------------------- W4 (+P1/P2/T-chain/E5): run_job parquet -> csv sink
def q_job_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="tg_gate_jobcsv_") + "/out"
    res = run_job(
        spark,
        {
            "reader": {
                "type": "parquet",
                "path": _t(sf_dir, "customer"),
                "column": ["c_custkey", "c_mktsegment", "c_acctbal"],
                "where": "c_acctbal > 1000",
            },
            "transformers": [
                {"name": "dx_pad", "column": "c_mktsegment", "paras": ["l", 12, "*"]}
            ],
            "writer": {
                "type": "csv",
                "path": out,
                "writeMode": "truncate",
                "header": True,
            },
            "errorLimit": {"record": 0},
        },
    )
    assert res.records_read == res.records_written  # stats rode the sink action
    return (
        spark.read.option("header", True)
        .schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
        .csv(out)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal"), 2).alias("acct"),
        )
    )


def sql_job_csv_roundtrip() -> str:
    return """
    SELECT c_custkey,
           CASE WHEN length(coalesce(c_mktsegment, '')) >= 12
                  THEN substr(coalesce(c_mktsegment, ''), 1, 12)
                ELSE lpad(coalesce(c_mktsegment, ''), 12, '*') END AS c_mktsegment,
           round(c_acctbal, 2) AS acct
    FROM customer WHERE c_acctbal > 1000
    """


# ----------------------- W2: writeMode insert -> MERGE update (LWW) via jobs
def q_job_lake_merge_writemode(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="tg_gate_lake_") + "/t"
    views = {"docs_v": _t(sf_dir, "documents")}
    run_job(
        spark,
        {
            "reader": {
                "type": "sql",
                "views": views,
                "querySql": "SELECT doc_id, substr(text, 1, 8) AS head "
                            "FROM docs_v WHERE doc_id < 300",
            },
            "writer": {"type": "lake_merge", "path": root, "key": "doc_id",
                       "writeMode": "insert", "buckets": 8},
        },
    )
    run_job(
        spark,
        {
            "reader": {
                "type": "sql",
                "views": views,
                "querySql": "SELECT doc_id, 'UPD' AS head, 'U' AS op, "
                            "CAST(1 AS BIGINT) AS commit_lsn, "
                            "CAST(0 AS BIGINT) AS seq_no "
                            "FROM docs_v WHERE doc_id < 150",
            },
            "writer": {"type": "lake_merge", "path": root, "key": "doc_id",
                       "writeMode": "update"},
        },
    )
    return LakeTable(spark, root).read().select("doc_id", "head")


def sql_job_lake_merge_writemode() -> str:
    return """
    SELECT doc_id,
           CASE WHEN doc_id < 150 THEN 'UPD' ELSE substr(text, 1, 8) END AS head
    FROM documents WHERE doc_id < 300
    """


def q_job_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """writeMode=mergeInto: the conditional MERGE behind the config surface.
    One source batch drives delete (flag=purge), conditional update
    (flag=upd), keep (flag=skip), and conditional insert (unmatched rows,
    insert condition excludes purge) — final table state vs a CASE oracle."""
    root = tempfile.mkdtemp(prefix="tg_gate_mi_") + "/t"
    views = {"docs_v": _t(sf_dir, "documents")}
    run_job(
        spark,
        {
            "reader": {
                "type": "sql",
                "views": views,
                "querySql": "SELECT doc_id, substr(text, 1, 8) AS head, "
                            "CAST(length(text) AS INT) AS n "
                            "FROM docs_v WHERE doc_id < 300",
            },
            "writer": {"type": "lake_merge", "path": root, "key": "doc_id",
                       "writeMode": "insert", "buckets": 8},
        },
    )
    run_job(
        spark,
        {
            "reader": {
                "type": "sql",
                "views": views,
                "querySql": "SELECT doc_id, 'M' || substr(text, 1, 4) AS head,"
                            " CAST(length(text) AS INT) AS n, "
                            "CASE WHEN doc_id % 10 = 0 THEN 'purge' "
                            "     WHEN doc_id % 3 = 0 THEN 'upd' "
                            "     ELSE 'skip' END AS flag "
                            "FROM docs_v WHERE doc_id < 400",
            },
            "writer": {
                "type": "lake_merge", "path": root, "key": "doc_id",
                "writeMode": "mergeInto",
                "merge": {
                    "whenMatchedUpdate": {"head": "s.head", "n": "s.n"},
                    "matchedCondition": "s.flag = 'upd'",
                    "whenMatchedDelete": True,
                    "deleteCondition": "s.flag = 'purge'",
                    "whenNotMatchedInsert": "all",
                    "insertCondition": "s.flag <> 'purge'",
                },
            },
        },
    )
    return LakeTable(spark, root).read().select("doc_id", "head", "n")


def sql_job_merge_into() -> str:
    return """
    SELECT doc_id,
           CASE WHEN doc_id >= 300 OR doc_id % 3 = 0
                THEN 'M' || substr(text, 1, 4)
                ELSE substr(text, 1, 8) END AS head,
           CAST(length(text) AS INT) AS n
    FROM documents
    WHERE doc_id < 400 AND doc_id % 10 <> 0
    """


# ------------------------------------- W3: preSql/postSql with @table render
def q_job_presql_atable(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="tg_gate_presql_") + "/out"
    run_job(
        spark,
        {
            "preSql": [
                "CREATE OR REPLACE TEMP VIEW @table AS "
                f"SELECT n_nationkey, n_name FROM parquet.`{_t(sf_dir, 'nation')}` "
                "WHERE n_regionkey < 3"
            ],
            "reader": {"type": "sql", "querySql": "SELECT * FROM gate_pre_view"},
            "writer": {"type": "parquet", "path": out, "table": "gate_pre_view",
                       "writeMode": "truncate"},
            "postSql": ["DROP VIEW @table"],
        },
    )
    return spark.read.parquet(out)


def sql_job_presql_atable() -> str:
    return "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 3"


# ------------------------------------------------- E6: dryRun problem report
def q_job_dry_run_problems(spark: SparkSession, sf_dir: str) -> DataFrame:
    problems = pre_check(
        spark,
        {
            "reader": {"type": "parquet", "path": "/nonexistent/gate_dryrun"},
            "transformers": [{"name": "dx_nope"}],
            "writer": {"type": "kafka"},
            "preSql": ["SELEKT 1"],
        },
    )
    kinds = sorted(p.split(":", 1)[0].split(" ", 1)[0] for p in problems)
    return spark.createDataFrame([(k,) for k in kinds], "kind string")


def sql_job_dry_run_problems() -> str:
    return (
        "SELECT 'reader' AS kind UNION ALL SELECT 'sql' "
        "UNION ALL SELECT 'transformer' UNION ALL SELECT 'writer'"
    )


# -------------------------------------- T5/T6: custom transformer registry
def q_transformer_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.transformers import (
        apply_transformer_chain,
        register_transformer,
        unregister_transformer,
    )

    def upper_head(df, step):
        c = step["column"]
        return df.withColumn(
            c, F.upper(F.substring(F.col(c), 1, int(step["paras"][0])))
        )

    register_transformer("upper_head", upper_head)
    try:
        c = spark.read.parquet(_t(sf_dir, "customer")).select("c_custkey", "c_name")
        return apply_transformer_chain(
            c,
            [
                {"name": "upper_head", "column": "c_name", "paras": [10]},
                {"name": "dx_filter", "column": "c_custkey", "paras": ["<", "100"]},
            ],
        )
    finally:
        unregister_transformer("upper_head")


def sql_transformer_registry() -> str:
    return """
    SELECT c_custkey, upper(substr(c_name, 1, 10)) AS c_name
    FROM customer
    WHERE NOT (c_custkey IS NOT NULL AND c_custkey < 100)
    """


# ------------------- E3/E4: crash between stage and publish, then resume
def q_cdc_resume_after_crash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill the engine between staging and publishing a mid-replay snapshot,
    then re-run the whole replay: watermarks + batch-ids + LWW must converge
    to the same final state as the uncrashed run (oracle identical to
    cdc_merge_final_state)."""
    from .cdc.replay import ReplayConfig, ReplayEngine
    from .gate import SEQ_SCHEMA, derive_changelog, derive_seed
    from .lake import LakeTable as LT

    root = tempfile.mkdtemp(prefix="tg_gate_resume_")
    table = LT.create(spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16)
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=5_000))
    log = derive_changelog(spark, sf_dir)
    try:
        eng.replay(log, run_id="gate_crash", crash_before_publish_at=1)
        raise AssertionError("crash hook did not fire")
    except RuntimeError:
        pass
    eng.replay(log, run_id="gate_crash")  # resume from snapshot watermarks
    return table.read().select(
        "doc_id", F.array_join(F.col("tokens"), ",").alias("tokens_csv"),
        "n_tok", "source",
    )


def sql_cdc_resume_after_crash() -> str:
    from .gate import sql_cdc_merge_final_state

    return sql_cdc_merge_final_state()


# ----------------------------------- X3: byte-based batch sizing (bytes/s)
def q_cdc_bytes_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay with batch volume derived from bytes_per_batch (the reference's
    ``speed.byte`` channel throttle) — final state must be invariant to the
    batching knob."""
    from .cdc.replay import ReplayConfig, ReplayEngine
    from .gate import SEQ_SCHEMA, derive_changelog, derive_seed
    from .lake import LakeTable as LT

    root = tempfile.mkdtemp(prefix="tg_gate_bytes_")
    table = LT.create(spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16)
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark, table, ReplayConfig(events_per_batch=1, bytes_per_batch=300_000)
    )
    reports = eng.replay(derive_changelog(spark, sf_dir), run_id="gate_bytes")
    assert len(reports) >= 2  # the byte knob actually split the replay
    return table.read().select(
        "doc_id", F.array_join(F.col("tokens"), ",").alias("tokens_csv"),
        "n_tok", "source",
    )


def sql_cdc_bytes_batched() -> str:
    from .gate import sql_cdc_merge_final_state

    return sql_cdc_merge_final_state()


# ------------------------------------------- E5: stats/metrics rollup
def q_job_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 gate row: JobResult's (read, dirty, written) counters — which ride
    the single sink action as observe() metrics (the reference's in-flight
    Communication counters, ``CommunicationTool.java:15-111``) — returned AS
    ROWS and checked against DuckDB recomputing the same counts from the
    base table. Staging: customer is rendered to CSV with every 97th key
    corrupted to a non-numeric token, so the typed read quarantines exactly
    those rows (cast-failure dirty path)."""
    stage = tempfile.mkdtemp(prefix="tg_gate_stats_") + "/in_csv"
    out = tempfile.mkdtemp(prefix="tg_gate_stats_") + "/out"
    c = spark.read.parquet(_t(sf_dir, "customer"))
    c.select(
        F.when(
            F.col("c_custkey") % 97 == 0,
            F.concat(F.lit("x"), F.col("c_custkey").cast("string")),
        )
        .otherwise(F.col("c_custkey").cast("string"))
        .alias("k"),
        F.col("c_mktsegment").alias("seg"),
    ).coalesce(1).write.mode("overwrite").csv(stage)
    res = run_job(
        spark,
        {
            "reader": {
                "type": "csv",
                "path": stage,
                "column": [
                    {"type": "long", "index": 0, "name": "k"},
                    {"type": "string", "index": 1, "name": "seg"},
                ],
            },
            "writer": {"type": "parquet", "path": out, "writeMode": "truncate"},
            "errorLimit": {"percentage": 0.5},
        },
    )
    return spark.createDataFrame(
        [(res.records_read, res.dirty_records, res.records_written)],
        "records_read bigint, dirty bigint, written bigint",
    )


def sql_job_stats_rollup() -> str:
    return """
    SELECT count(*) FILTER (WHERE c_custkey % 97 <> 0) AS records_read,
           count(*) FILTER (WHERE c_custkey % 97 = 0)  AS dirty,
           count(*) FILTER (WHERE c_custkey % 97 <> 0) AS written
    FROM customer
    """


# ------------------------------------------- W5: stream/console writer
def q_job_console_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 gate row: the debug console sink (reference streamwriter,
    ``StreamWriter.java:20-100+``) — one collect action, display capped by
    ``print``, written count == full row count regardless of the cap."""
    res = run_job(
        spark,
        {
            "reader": {
                "type": "parquet",
                "path": _t(sf_dir, "nation"),
                "column": ["n_nationkey", "n_name", "n_regionkey"],
                "where": "n_regionkey < 3",
            },
            "writer": {"type": "console", "print": 5},
        },
    )
    return spark.createDataFrame(
        [(res.records_read, res.records_written)],
        "records_read bigint, written bigint",
    )


def sql_job_console_sink() -> str:
    return """
    SELECT count(*) AS records_read, count(*) AS written
    FROM nation WHERE n_regionkey < 3
    """


# ------------------------------------------------ S1: LIVE partitioned JDBC
def q_jdbc_live_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 against a REAL database: stage `supplier` into an embedded Derby DB
    (the JDBC driver pyspark ships for its metastore) via ``df.write.jdbc``,
    then read it back through the full partitioned scan path —
    ``read_jdbc_split``'s MIN/MAX bounds pushdown, equal-width range
    predicates + NULL slice, projection/static-predicate pushdown into the
    source query, and hint splicing (``SingleTableSplitUtil.java:33-149``,
    ``HintUtil.java:27-66``) — so every generated predicate executes on a
    live SQL engine, not just against parquet stand-ins."""
    # stage with UPPERCASE names: write.jdbc quotes identifiers in its DDL,
    # and unquoted identifiers in the generated split predicates fold to
    # upper on Derby (test_jdbc_live pins both behaviors)
    sup = spark.read.parquet(_t(sf_dir, "supplier")).select(
        *[
            F.col(c).alias(c.upper())
            for c in ("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        ]
    )
    db = tempfile.mkdtemp(prefix="gate_derby_") + "/db"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    sup.write.jdbc(
        url,
        "supplier_t",
        mode="overwrite",
        properties=dict(
            props,
            # Derby maps StringType to CLOB, which DISTINCT cannot compare —
            # pin a comparable type, as any real staging DDL would
            createTableColumnTypes="S_NAME VARCHAR(64)",
        ),
    )
    got = read_jdbc_split(
        spark,
        url,
        "supplier_t",
        "S_SUPPKEY",
        8,
        properties=props,
        columns=["S_SUPPKEY", "S_NAME", "S_NATIONKEY", "S_ACCTBAL"],
        where="S_NATIONKEY < 13",
        # DISTINCT is a hint expression Derby actually executes — proves the
        # splice lands inside a statement a real engine accepts
        hint="supplier.*#DISTINCT",
    )
    # Derby folds unquoted identifiers to UPPER; realign with the oracle
    return got.select(
        [F.col(c).alias(c.lower()) for c in got.columns]
    )


def sql_jdbc_live_roundtrip() -> str:
    return (
        "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier "
        "WHERE s_nationkey < 13"
    )


def q_job_jdbc_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 against a REAL database: the config surface writes supplier to
    an embedded Derby target (writeMode=insert creates the table,
    distributed ``df.write.jdbc``), then applies a correction batch with
    writeMode=update — stage + one driver-side ANSI MERGE on writeKeys
    (``WriterUtil.java:111-168``'s REPLACE INTO / ON DUPLICATE KEY UPDATE,
    portably) — plus a target-side ``postSql`` sentinel (``WriterUtil.java:
    79-109`` runs pre/post statements on the DESTINATION connection). Read
    back over JDBC and compare the final table to the DuckDB oracle."""
    sup = spark.read.parquet(_t(sf_dir, "supplier")).select(
        F.col("s_suppkey").alias("S_SUPPKEY"),
        F.col("s_name").alias("S_NAME"),
        F.col("s_nationkey").alias("S_NATIONKEY"),
        F.col("s_acctbal").alias("S_ACCTBAL"),
    )
    src = tempfile.mkdtemp(prefix="gate_jw_")
    sup.write.parquet(f"{src}/base")
    corr = sup.where(F.col("S_SUPPKEY") % 7 == 0)
    upd = corr.select(
        "S_SUPPKEY",
        F.lit("CORR").alias("S_NAME"),
        "S_NATIONKEY",
        (F.col("S_ACCTBAL") + 1000).alias("S_ACCTBAL"),
    )
    new = corr.select(
        (F.col("S_SUPPKEY") + 100000).alias("S_SUPPKEY"),
        F.lit("NEW").alias("S_NAME"),
        "S_NATIONKEY",
        "S_ACCTBAL",
    )
    upd.unionByName(new).write.parquet(f"{src}/corr")
    db = tempfile.mkdtemp(prefix="gate_jw_db_") + "/db"
    url = f"jdbc:derby:{db};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    common = {
        "type": "jdbc", "url": url, "driver": drv, "table": "SUPP_TGT",
        # Derby maps StringType to CLOB, which MERGE cannot assign to a
        # VARCHAR — pin the staging/target column type (same constraint the
        # read-path gate pins)
        "createTableColumnTypes": "S_NAME VARCHAR(40)",
    }
    run_job(spark, {
        "reader": {"type": "parquet", "path": f"{src}/base"},
        "writer": dict(common, writeMode="insert"),
    })
    run_job(spark, {
        "reader": {"type": "parquet", "path": f"{src}/corr"},
        "writer": dict(
            common, writeMode="update", writeKeys=["S_SUPPKEY"],
            postSql=["INSERT INTO @table VALUES (999999, 'POSTSQL', 0, 0.0)"],
        ),
    })
    back = spark.read.jdbc(url, "SUPP_TGT", properties={"driver": drv})
    return back.select([F.col(c).alias(c.lower()) for c in back.columns])


def sql_job_jdbc_writer() -> str:
    return """
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 7 = 0 THEN 'CORR' ELSE s_name END AS s_name,
           s_nationkey,
           CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 1000
                ELSE s_acctbal END AS s_acctbal
    FROM supplier
    UNION ALL
    SELECT s_suppkey + 100000, 'NEW', s_nationkey, s_acctbal
    FROM supplier WHERE s_suppkey % 7 = 0
    UNION ALL
    SELECT 999999, 'POSTSQL', 0, 0.0
    """


def q_job_cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole north-rule shape behind the CONFIG surface: job.json with a
    ``cdc_topic`` reader (a dumped Kafka topic of Canal FlatMessage
    envelopes) and a ``lake_replay`` writer (the full batched watermarked
    engine) — the reference's user writes job.json for a one-shot copy, this
    one drives a change-log tail. Re-running the SAME job must be a no-op
    (snapshot watermarks/batch-ids, not config state, carry exactly-once).
    Final table state equals the flagship oracle."""
    from .cdc.envelopes import to_canal
    from .gate import SEQ_SCHEMA, derive_changelog, derive_seed
    from .lake import LakeTable as LT

    root = tempfile.mkdtemp(prefix="tg_gate_jobcdc_")
    table = LT.create(spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16)
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    topic_dir = f"{root}/topic"
    to_canal(
        derive_changelog(spark, sf_dir), ["doc_id", "tokens", "n_tok", "source"]
    ).write.parquet(topic_dir)
    job = {
        "reader": {
            "type": "cdc_topic",
            "format": "canal",
            "path": topic_dir,
            "rowSchema": "doc_id string, tokens array<int>, n_tok int, "
                         "source string",
        },
        "writer": {
            "type": "lake_replay",
            "path": f"{root}/seq",
            "key": "doc_id",
            "eventsPerBatch": 50_000,
            "runId": "gate_jobcdc",
        },
    }
    assert pre_check(spark, job) == []
    run_job(spark, job)
    v = table.current_version()
    run_job(spark, job)  # idempotent re-run: no new snapshot
    assert table.current_version() == v
    return table.read().select(
        "doc_id", F.array_join(F.col("tokens"), ",").alias("tokens_csv"),
        "n_tok", "source",
    )


def sql_job_cdc_pipeline() -> str:
    from .gate import sql_cdc_merge_final_state

    return sql_cdc_merge_final_state()


def q_job_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake -> training-shards terminal pipeline behind the CONFIG
    surface: a ``lake`` reader (branch/time-travel-capable read of a lake
    table — the write-side's missing twin) feeding a ``training_export``
    writer (concat-and-chunk packing + deterministic shard shuffle +
    shard-partitioned parquet). Shard/pos are pure key functions, so the
    re-run assert pins idempotent export; the oracle recomputes the packing
    from the same base table (shard assignment is xxhash64-based and
    pytest-covered instead — DuckDB cannot mirror it)."""
    from .lake import TableSchema

    root = tempfile.mkdtemp(prefix="tg_gate_jobexp_")
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.transform(
            F.split(F.trim(F.col("text")), r"\s+"), lambda w: F.length(w)
        ).alias("tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
        "source",
    )
    table = LakeTable.create(
        spark, f"{root}/t",
        TableSchema([("doc_id", "bigint"), ("tokens", "array<int>"),
                     ("n_tok", "int"), ("source", "string")]),
        key="doc_id", n_buckets=8,
    )
    table.append(toks)
    job = {
        "reader": {"type": "lake", "path": f"{root}/t",
                   "column": ["doc_id", "tokens", "source"]},
        "writer": {"type": "training_export", "path": f"{root}/out",
                   "window": 97, "shards": 4, "partCol": "source",
                   "orderCol": "doc_id"},
    }
    assert pre_check(spark, job) == []
    res1 = run_job(spark, job)
    first = spark.read.parquet(f"{root}/out").collect()
    res2 = run_job(spark, job)  # overwrite re-run: byte-identical export
    again = spark.read.parquet(f"{root}/out").collect()
    assert res1.records_written == res2.records_written
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    out = spark.read.parquet(f"{root}/out")
    assert out.select("shard").distinct().count() == 4
    return out.select(
        "source", "chunk_id",
        F.array_join(F.col("tokens"), ",").alias("tokens_csv"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def sql_job_training_export() -> str:
    from .gate import sql_seq_packing

    return sql_seq_packing()


# ------------------------------- S7b: JSON-lines reader (typed + quarantine)
def q_job_jsonl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL document ingest through the config surface: stage documents
    rows as JSON lines plus two corrupt lines (one malformed JSON, one
    type-violating record), run the `jsonl` reader -> parquet writer job,
    and return the landed rows. The corrupt lines must be quarantined as
    dirty (PERMISSIVE corrupt-record channel -> `_dirty`), never written,
    never fatal. Oracle recomputes the clean set from the documents table."""
    import json as _json
    import os

    stage = tempfile.mkdtemp(prefix="tg_gate_jsonl_") + "/in"
    out = tempfile.mkdtemp(prefix="tg_gate_jsonl_") + "/out"
    docs = (
        spark.read.parquet(_t(sf_dir, "documents"))
        .where("doc_id < 400")
        .selectExpr(
            "doc_id", "lang", "substr(text, 1, 12) AS head", "n_chars"
        )
    )
    docs.coalesce(1).write.mode("overwrite").json(stage)
    bad = [
        '{"doc_id": 7, "lang": "en", "head": "trunca',     # malformed JSON
        _json.dumps({"doc_id": "not_a_number", "lang": "xx",
                     "head": "bad", "n_chars": 1}),         # type violation
    ]
    with open(os.path.join(stage, "zz_corrupt.json"), "w") as f:
        f.write("\n".join(bad) + "\n")
    res = run_job(
        spark,
        {
            "reader": {
                "type": "jsonl",
                "path": stage,
                "column": [
                    {"name": "doc_id", "type": "bigint"},
                    {"name": "lang", "type": "string"},
                    {"name": "head", "type": "string"},
                    {"name": "n_chars", "type": "bigint"},
                ],
            },
            "writer": {"type": "parquet", "path": out,
                       "writeMode": "truncate"},
            "errorLimit": {"record": 2},
        },
    )
    assert res.dirty_records == 2, res
    assert res.records_written == res.records_read  # clean rows only
    return spark.read.parquet(out)


def sql_job_jsonl_read() -> str:
    return """
    SELECT doc_id, lang, substr(text, 1, 12) AS head, n_chars
    FROM documents WHERE doc_id < 400
    """


JOB_QUERIES = {
    "job_jsonl_read": (q_job_jsonl_read, sql_job_jsonl_read),
    "job_cdc_pipeline": (q_job_cdc_pipeline, sql_job_cdc_pipeline),
    "job_training_export": (q_job_training_export, sql_job_training_export),
    "jdbc_live_roundtrip": (q_jdbc_live_roundtrip, sql_jdbc_live_roundtrip),
    "job_stats_rollup": (q_job_stats_rollup, sql_job_stats_rollup),
    "job_console_sink": (q_job_console_sink, sql_job_console_sink),
    "split_range_cover": (q_split_range_cover, sql_split_range_cover),
    "split_string_radix_cover": (
        q_split_string_radix_cover, sql_split_string_radix_cover,
    ),
    "split_quantile_cover": (q_split_quantile_cover, sql_split_quantile_cover),
    "sharded_table_union": (q_sharded_table_union, sql_sharded_table_union),
    "query_sql_union": (q_query_sql_union, sql_query_sql_union),
    "csv_multi_projection": (q_csv_multi_projection, sql_csv_multi_projection),
    "csv_typed_read": (q_csv_typed_read, sql_csv_typed_read),
    "csv_snappy_read": (q_csv_snappy_read, sql_csv_snappy_read),
    "job_csv_roundtrip": (q_job_csv_roundtrip, sql_job_csv_roundtrip),
    "job_merge_into": (q_job_merge_into, sql_job_merge_into),
    "job_lake_merge_writemode": (
        q_job_lake_merge_writemode, sql_job_lake_merge_writemode,
    ),
    "job_presql_atable": (q_job_presql_atable, sql_job_presql_atable),
    "job_jdbc_writer": (q_job_jdbc_writer, sql_job_jdbc_writer),
    "job_dry_run_problems": (q_job_dry_run_problems, sql_job_dry_run_problems),
    "transformer_registry_custom": (
        q_transformer_registry, sql_transformer_registry,
    ),
    "cdc_resume_after_crash": (
        q_cdc_resume_after_crash, sql_cdc_resume_after_crash,
    ),
    "cdc_bytes_batched": (q_cdc_bytes_batched, sql_cdc_bytes_batched),
}
