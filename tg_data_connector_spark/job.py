"""Config-driven jobs: the DataX job.json analog.

The reference's entire user surface is a JSON config — one reader, an optional
transformer chain, one writer, speed/errorLimit settings
(``core/src/main/job/*.json``; parsed/merged by ``ConfigParser.java:25-66``,
validated by ``ConfigurationValidate``; lifecycle ``JobContainer.java:95-186``).
A user of the reference describes a sync job declaratively; this module gives
the same declarative surface over the Spark engine:

  {
    "reader":       {"type": "parquet|csv|sharded_parquet|jdbc|sql|csv_multi|
                              jsonl|cdc_topic|lake", ...},
    "transformers": [{"name": "dx_substr", "column": ..., "paras": [...]}, ...],
    "writer":       {"type": "lake_merge|lake_replay|parquet|csv|console|
                              training_export|jdbc", "writeMode": ...},
    "errorLimit":   {"record": 0, "percentage": 0.02},
    "preSql": [...], "postSql": [...]
  }

writeMode parity (``WriterUtil.java:111-168``):
  insert  -> append          (reference: INSERT INTO)
  replace / update -> MERGE upsert into the lake table (reference: REPLACE
             INTO / ON DUPLICATE KEY UPDATE — strengthened here to LWW)
  mergeInto -> conditional MERGE INTO (lake/dml.merge_into): the writer's
             ``merge`` object declares Delta-style clauses —
             ``whenMatchedUpdate`` ("all" | {col: expr}), ``matchedCondition``,
             ``whenMatchedDelete`` + ``deleteCondition``,
             ``whenNotMatchedInsert`` ("all" | {col: expr}),
             ``insertCondition``, ``mode`` ("cow"|"mor") — expressions
             reference target/source via ``t.``/``s.`` aliases
  truncate/append/nonConflict for file writers (``TxtFileWriter.java:99-140``).

preSql/postSql (``WriterUtil.java:79-109``) run through spark.sql before/after
the move; dryRun (``JobContainer.preCheck`` ``JobContainer.java:188-217``)
validates reader/writer/SQL without moving data.

Maintenance jobs: instead of reader/writer, a config may carry ONE top-level
``maintenance`` object — the declarative face of ``lake/maintain``'s
planner, so table upkeep schedules through the same job runner / CLI /
spark-submit path as data movement (the lakehouse OPTIMIZE-job analog; the
reference has no equivalent because it owns no storage):

  {"maintenance": {"path": "<table root or URI>",
                   "thresholds": {"max_base_files_per_bucket": 8,
                                  "max_delta_depth": 4,
                                  "keep_last_snapshots": 10,
                                  "snapshot_slack": 5},
                   "planOnly": false}}

``planOnly`` reports the recommended actions without executing (the plan
rides ``JobResult.stats["plan"]``); otherwise ``run_maintenance`` executes
and the stats carry compacted versions / expired versions / GC'd paths.
URI-rooted tables route through the Hadoop FS seam like the lake writers.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdc.quality import ErrorLimit
from .lake import LakeTable, TableSchema, merge_upsert
from .operators.transformers import apply_transformer_chain
from .sources.files import ColumnEntry, read_typed_csv_flagged
from .sources.jdbc import read_jdbc_split
from .sources.tables import expand_sharded_tables


@dataclass
class JobResult:
    records_read: int
    records_written: int
    dirty_records: int
    seconds: float
    stats: dict = field(default_factory=dict)


class JobValidationError(ValueError):
    pass


_MAINT_THRESHOLDS = (
    "max_base_files_per_bucket",
    "max_delta_depth",
    "keep_last_snapshots",
    "snapshot_slack",
)


def _open_lake(spark: SparkSession, root: str) -> LakeTable:
    """Open an existing lake table; URI roots (hdfs://, s3a://, file://)
    route metadata through the Hadoop FS seam (same scheme dispatch as the
    lake writers)."""
    from .lake.fs import uri_scheme

    fs = None
    if uri_scheme(root) is not None:
        from .lake.fs import HadoopTableFS

        fs = HadoopTableFS(spark, root)
    return LakeTable(spark, root, fs=fs)


def _run_maintenance_job(spark: SparkSession, m: dict) -> JobResult:
    from .lake.maintain import plan_maintenance, run_maintenance

    t0 = time.time()
    table = _open_lake(spark, m["path"])
    kwargs = {k: int(v) for k, v in (m.get("thresholds") or {}).items()}
    plan = plan_maintenance(table, **kwargs)
    stats: dict = {
        "plan": [
            {"kind": a.kind, "buckets": a.buckets, "reason": a.reason}
            for a in plan
        ]
    }
    if not m.get("planOnly"):
        res = run_maintenance(table, actions=plan)
        stats["compacted"] = res["compacted"]
        stats["expired"] = res["expired"]
        stats["gc_removed"] = len(res["gc_removed"])
    return JobResult(0, 0, 0, round(time.time() - t0, 3), stats)


def load_config(path_or_dict) -> dict:
    if isinstance(path_or_dict, dict):
        return path_or_dict
    with open(path_or_dict) as f:
        return json.load(f)


# --------------------------------------------------------------- readers
def _read_flagged(spark: SparkSession, cfg: dict) -> DataFrame:
    """One frame per source; readers that can produce dirty rows carry a
    ``_dirty`` boolean column, clean-only readers carry none. The runner
    observes counts on this single frame, so no reader is ever scanned twice
    just for stats."""
    typ = cfg["type"]
    if typ in ("parquet", "sharded_parquet"):
        paths = (
            expand_sharded_tables(cfg["pattern"])
            if typ == "sharded_parquet"
            else [cfg["path"]]
        )
        df = spark.read.parquet(*paths)
        if cfg.get("column"):
            df = df.select(*cfg["column"])  # projection (P1)
        if cfg.get("where"):
            df = df.where(cfg["where"])  # static predicate pushdown (P2)
        return df
    if typ == "csv":
        entries = None
        if cfg.get("column"):
            entries = [ColumnEntry(**e) for e in cfg["column"]]
        return read_typed_csv_flagged(
            spark,
            cfg["path"],
            entries,
            header=cfg.get("header", False),
            sep=cfg.get("fieldDelimiter", ","),
            encoding=cfg.get("encoding", "utf-8"),
            null_format=cfg.get("nullFormat"),
            skip_lines=int(cfg.get("skipLines", 0)),
            compression=cfg.get("compress"),
        )
    if typ == "jsonl":
        # JSON-lines ingest — the dominant raw interchange format for
        # web-scale text/token corpora. An EXPLICIT column schema is
        # required (reference reader-config semantics: every DataX reader
        # declares `column`; schema inference would also force a second
        # full scan of 100-TB inputs). PERMISSIVE parse: unparseable or
        # schema-violating lines surface through the corrupt-record column
        # and ride the standard `_dirty` quarantine channel instead of
        # failing the job (TaskPluginCollector dirty semantics). Types are
        # any Spark DDL string, so `tokens array<int>` ingests directly.
        from pyspark.sql.types import StringType, StructType

        if not cfg.get("column"):
            raise JobValidationError("jsonl reader requires 'column'")
        schema = StructType.fromDDL(  # full DDL types: array<int> etc.
            ", ".join(f"`{e['name']}` {e['type']}" for e in cfg["column"])
        )
        names = [f.name for f in schema.fields]
        schema = schema.add("_corrupt", StringType())
        df = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(cfg["path"])
        )
        return df.select(
            *names, F.col("_corrupt").isNotNull().alias("_dirty")
        )
    if typ == "sql":
        # querySql mode (ReaderSplitUtil.java:97-107): user-supplied SQL, one
        # DataFrame per statement, unioned; `views` registers parquet paths
        for name, path in cfg.get("views", {}).items():
            spark.read.parquet(path).createOrReplaceTempView(name)
        stmts = cfg["querySql"]
        if isinstance(stmts, str):
            stmts = [stmts]
        df = spark.sql(stmts[0])
        for s in stmts[1:]:
            df = df.unionByName(spark.sql(s), allowMissingColumns=False)
        return df
    if typ == "csv_multi":
        # per-object column-index projection (GcsReader.java:187-205,322-356):
        # each object lists its own column entries; results union by name
        parts = []
        for obj in cfg["objects"]:
            entries = [ColumnEntry(**e) for e in obj["column"]]
            parts.append(
                read_typed_csv_flagged(
                    spark,
                    obj["path"],
                    entries,
                    header=obj.get("header", cfg.get("header", False)),
                    sep=cfg.get("fieldDelimiter", ","),
                    null_format=cfg.get("nullFormat"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if typ == "lake":
        # read a lake table through the config surface (the write-side twin
        # has existed since round 2; without this a user cannot express
        # lake -> file/export syncs in job.json). Supports branch checkout
        # and time travel; projection/predicate push into the parquet scan
        # exactly as for the parquet reader.
        table = _open_lake(spark, cfg["path"])
        if cfg.get("branch"):
            table = table.checkout(cfg["branch"])
        snap = None
        if cfg.get("snapshot") is not None or cfg.get("tag") is not None:
            snap = table.snapshot(
                version=cfg.get("snapshot"), tag=cfg.get("tag")
            )
        # ``filters``: [[col, op, value], ...] conjuncts (op in = != < <= >
        # >= in) — unlike the free-form ``where`` string these reach the
        # MANIFEST: files whose recorded stats_cols range provably excludes
        # a conjunct are dropped before the scan plans (see
        # LakeTable.read). ``where`` still composes on top for anything the
        # simple-filter shape can't express.
        filters = [tuple(f) for f in cfg.get("filters", [])] or None
        df = table.read(snapshot=snap, filters=filters)
        if cfg.get("column"):
            df = df.select(*cfg["column"])
        if cfg.get("where"):
            df = df.where(cfg["where"])
        return df
    if typ == "jdbc":
        df = read_jdbc_split(
            spark,
            cfg["jdbcUrl"],
            cfg["table"],
            pk=cfg["splitPk"],
            num_partitions=cfg.get("numPartitions", 8),
            properties=cfg.get("properties"),
        )
        if cfg.get("where"):
            df = df.where(cfg["where"])
        return df
    if typ == "cdc_topic":
        # a dumped Kafka topic of CDC envelopes (value/partition/offset
        # frames, parquet or json-lines files) decoded by a PUBLIC format —
        # the config-driven entry to the replay engine: the reference's user
        # writes job.json for a batch copy, ours writes job.json for a
        # change-log tail (north rule). Unparseable envelopes surface as
        # NULL-op rows and quarantine downstream, never silent drops.
        from .cdc.envelopes import from_canal, from_debezium, from_maxwell

        decoders = {
            "debezium": from_debezium,
            "maxwell": from_maxwell,
            "canal": from_canal,
        }
        fmt = cfg.get("format", "debezium")
        if fmt not in decoders:
            raise JobValidationError(
                f"cdc_topic: unknown format {fmt!r} "
                f"(one of {sorted(decoders)})"
            )
        if not cfg.get("rowSchema"):
            raise JobValidationError("cdc_topic: rowSchema is required")
        frame_ddl = "value string, partition int, offset bigint"
        if cfg.get("fileType", "parquet") == "json":
            src = spark.read.schema(frame_ddl).json(cfg["path"])
        else:
            src = spark.read.parquet(cfg["path"])
        return decoders[fmt](src, cfg["rowSchema"])
    raise JobValidationError(f"unknown reader type {typ!r}")


def _read(spark: SparkSession, cfg: dict) -> tuple[DataFrame, DataFrame]:
    """Returns (clean, dirty) — the two-branch view over ``_read_flagged``."""
    df = _read_flagged(spark, cfg)
    if "_dirty" in df.columns:
        return (
            df.where(~F.col("_dirty")).drop("_dirty"),
            df.where(F.col("_dirty")).drop("_dirty"),
        )
    return df, df.limit(0)


# --------------------------------------------------------------- writers
def _write(spark: SparkSession, cfg: dict, df: DataFrame) -> int | None:
    """Execute the sink action. Returns the written-row count ONLY when the
    sink itself had to compute one anyway (console's show is row-limited, so
    it counts); file/lake sinks return None and the caller reads the count
    from the Observation riding the same action — never a second pass."""
    typ = cfg["type"]
    mode = cfg.get("writeMode", "insert")
    if typ in ("parquet", "csv"):
        path = cfg["path"]
        if mode == "nonConflict" and os.path.exists(path) and os.listdir(path):
            raise JobValidationError(
                f"writeMode=nonConflict and target {path} is not empty"
            )  # TxtFileWriter nonConflict semantics
        spark_mode = {"truncate": "overwrite", "append": "append",
                      "insert": "append", "nonConflict": "errorifexists"}[mode]
        w = df.write.mode(spark_mode)
        if cfg.get("compress"):
            w = w.option("compression", cfg["compress"])
        if typ == "csv":
            w = w.option("header", cfg.get("header", False))
            if cfg.get("dateFormat"):
                w = w.option("timestampFormat", cfg["dateFormat"])
            if cfg.get("nullFormat") is not None:
                w = w.option("nullValue", cfg["nullFormat"])
            w.csv(path)
        else:
            w.parquet(path)
        return None
    if typ == "training_export":
        # terminal export of a tokens table into training shards: optional
        # concat-and-chunk packing (window > 0) then a deterministic shard
        # shuffle, written as parquet partitioned by shard. Pure key-function
        # shard/pos assignment means a re-run (or a retried task) produces
        # byte-identical shards — the idempotence a resumable export needs.
        from pyspark.sql import Observation

        from .operators.packing import pack_sequences, shard_shuffle

        window = int(cfg.get("window", 0))
        part_col = cfg.get("partCol", "source")
        order_col = cfg.get("orderCol", "doc_id")
        packing = cfg.get("packing", "chunks")
        if packing not in ("chunks", "bins"):
            raise JobValidationError(
                f"training_export: unknown packing {packing!r}"
            )
        out = df
        if window > 0 and packing == "bins":
            # greedy no-split whole-document bins (fewer-truncations) —
            # only over-length documents truncate; assemble_bins' default
            # bound keeps one pandas group O(BINS_MAX_DOCS_PER_STREAM)
            from .operators.packing import assemble_bins

            out = assemble_bins(
                df,
                window=window,
                tokens_col=cfg.get("tokensCol", "tokens"),
                order_col=order_col,
                part_col=part_col,
            )
            key_cols = [part_col, "bin_id"]
        elif window > 0:
            out = pack_sequences(
                df,
                tokens_col=cfg.get("tokensCol", "tokens"),
                order_col=order_col,
                part_col=part_col,
                window=window,
                drop_last=bool(cfg.get("dropLast", False)),
            )
            key_cols = [part_col, "chunk_id"]
        else:
            key_cols = [order_col]
        out = shard_shuffle(
            out,
            n_shards=int(cfg.get("shards", 64)),
            key_col=key_cols[0],
            hash_expr=F.pmod(
                F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(2**40)
            ),
        )
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        mode = cfg.get("writeMode", "truncate")
        spark_mode = {"truncate": "overwrite", "append": "append",
                      "insert": "append", "nonConflict": "errorifexists"}[mode]
        w = out.write.mode(spark_mode).partitionBy("shard")
        if cfg.get("compress"):
            w = w.option("compression", cfg["compress"])
        w.parquet(cfg["path"])
        # the packed row count differs from the input count the caller
        # observed upstream, so this sink reports its own (same action)
        return int(obs.get["n"])
    if typ == "jdbc":
        return _jdbc_write(spark, cfg, df, mode)
    if typ == "console":  # streamwriter analog (debug sink)
        # The reference's streamwriter prints EVERY record to stdout
        # (``streamwriter`` plugin), but driver materialization is CAPPED
        # (`print` * 10, override via `collectCap`): an accidental console
        # writer on a big source must not OOM the driver. Within the cap it
        # is ONE action (collect, count locally, display `print` rows); only
        # a truncated display pays a second JVM-side count() for the exact
        # total — the degenerate debug-sink-on-big-input case.
        limit = int(cfg.get("print", 20))
        cap = max(limit, int(cfg.get("collectCap", limit * 10)))
        rows = df.limit(cap + 1).collect()
        total = len(rows) if len(rows) <= cap else df.count()
        header = " | ".join(df.columns)
        print(header)
        print("-" * len(header))
        for r in rows[:limit]:
            print(" | ".join("null" if v is None else str(v) for v in r))
        if total > limit:
            print(f"... ({total - limit} more rows)")
        return int(total)
    if typ in ("lake_merge", "lake_replay"):
        root = cfg["path"]
        key = cfg.get("key", "doc_id")
        # URI roots (hdfs://, s3a://, file://) route metadata through the
        # Hadoop FS seam; bare paths stay on the POSIX implementation. Scheme
        # detection is an RFC-3986 match, not a '"://"' substring test —
        # Hadoop canonicalizes to the single-slash form ('hdfs:/user/t'),
        # which the substring test would misroute to LocalTableFS and build a
        # broken table under CWD.
        from .lake.fs import uri_scheme

        fs = None
        if uri_scheme(root) is not None:
            from .lake.fs import HadoopTableFS

            fs = HadoopTableFS(spark, root)
        if mode == "mergeInto" and not LakeTable.exists(root, fs=fs):
            # Delta MERGE semantics: the target must exist — silently creating
            # it would turn a clause mis-spelling into a full table build
            raise JobValidationError(
                "writeMode=mergeInto requires an existing lake table"
            )
        if not LakeTable.exists(root, fs=fs):
            meta_cols = (
                "op", "commit_lsn", "seq_no", "part", "offset",
                "schema_change", "payload", "extra",
            )
            schema = TableSchema(
                [(f.name, f.dataType.simpleString()) for f in df.schema.fields
                 if f.name not in meta_cols]
            )
            table = LakeTable.create(
                spark, root, schema, key=key,
                n_buckets=int(cfg.get("buckets", 16)), fs=fs,
                # declare the merge engine on the table when the writer uses
                # a columnwise resolution with MoR — readers must know how
                # to fold the deltas (table.py resolve_columnwise)
                resolution=(
                    cfg.get("resolution", "lww")
                    if cfg.get("mergeMode", "cow") == "mor"
                    else "lww"
                ),
                agg_spec=(
                    cfg.get("aggSpec")
                    if cfg.get("mergeMode", "cow") == "mor"
                    else None
                ),
            )
        else:
            table = LakeTable(spark, root, fs=fs)
        branch = cfg.get("branch")
        if branch:
            # write into a named ref (created at the current head if absent),
            # leaving main frozen — the staging-branch workflow behind the
            # config surface; the operator fast-forwards main after review
            table = (
                table.checkout(branch)
                if branch in table.branches()
                else table.create_branch(branch)
            )
        if typ == "lake_replay":
            # the full engine behind the config surface: batched watermarked
            # replay with snapshot commits — job.json drives a change-log
            # tail instead of a one-shot copy (the north rule's shape)
            from .cdc.replay import ReplayConfig, ReplayEngine

            eng = ReplayEngine(
                spark,
                table,
                ReplayConfig(
                    events_per_batch=int(cfg.get("eventsPerBatch", 5_000_000)),
                    merge_mode=cfg.get("mergeMode", "cow"),
                    # row-resolution semantics: "lww" (default) | "partial"
                    # (sparse after-images) | "aggregate" (per-column
                    # combiners via aggSpec {col: sum|max|min|last})
                    resolution=cfg.get("resolution", "lww"),
                    agg_spec=cfg.get("aggSpec"),
                ),
            )
            eng.replay(df, run_id=str(cfg.get("runId", "job")))
            return None
        if mode == "mergeInto":
            # conditional MERGE INTO behind the config surface: clause spec
            # rides the writer config, expressions reference t./s. aliases
            # (lake/dml.merge_into — Delta clause order and semantics)
            from .lake.dml import merge_into

            mi = cfg.get("merge")
            if not isinstance(mi, dict):
                raise JobValidationError(
                    "writeMode=mergeInto requires a 'merge' clause object"
                )
            merge_into(
                table,
                df,
                when_matched_update=mi.get("whenMatchedUpdate"),
                matched_condition=mi.get("matchedCondition"),
                when_matched_delete=bool(mi.get("whenMatchedDelete", False)),
                delete_condition=mi.get("deleteCondition"),
                when_not_matched_insert=mi.get("whenNotMatchedInsert", "all"),
                insert_condition=mi.get("insertCondition"),
                mode=mi.get("mode", "cow"),
                batch_id=cfg.get("batchId"),
            )
            return None
        if mode in ("replace", "update", "merge"):
            src = df
            for c, d in (("op", "U"), ("commit_lsn", 0), ("seq_no", 0)):
                if c not in src.columns:
                    src = src.withColumn(c, F.lit(d))
            merge_upsert(table, src, summary_update={"job": True})
            return None
        table.append(df)  # insert = plain append
        return None
    raise JobValidationError(f"unknown writer type {typ!r}")


# --------------------------------------------------------------- lifecycle
def _jdbc_connect(spark: SparkSession, cfg: dict):
    """Driver-side java.sql connection to the writer's target DB (for
    target-side preSql/postSql and the MERGE step — the reference executes
    these on the destination connection, ``WriterUtil.java:79-168``, not on
    the compute engine)."""
    jvm = spark._jvm
    if cfg.get("driver"):
        jvm.java.lang.Class.forName(cfg["driver"])
    props = jvm.java.util.Properties()
    for k in ("user", "password"):
        if cfg.get(k):
            props.setProperty(k, cfg[k])
    return jvm.java.sql.DriverManager.getConnection(cfg["url"], props)


def _exec_on_target(conn, stmts: list[str], table: str) -> None:
    st = conn.createStatement()
    try:
        for s in stmts:
            st.execute(s.replace("@table", table))
    finally:
        st.close()


def _jdbc_write(
    spark: SparkSession, cfg: dict, df: DataFrame, mode: str
) -> int | None:
    """The reference's primary sink — write to a relational DB over JDBC
    (``WriterUtil.java:111-168``):

      insert           -> distributed ``df.write.jdbc`` append (INSERT INTO)
      replace / update -> stage the batch into ``<table>_DX_STAGE`` via the
                          same distributed append, then ONE driver-side ANSI
                          ``MERGE INTO target USING stage ON (writeKeys)``
                          (the portable form of REPLACE INTO / ON DUPLICATE
                          KEY UPDATE; with full-row images the two reference
                          modes are equivalent — a DataFrame always carries
                          every column, so the partial-column distinction
                          never arises), then DROP the stage.

    Writer-scoped ``preSql``/``postSql`` run ON THE TARGET connection (the
    top-level job preSql runs through spark.sql — lake-side); ``@table``
    renders to the target table in both. Identifier case must match the
    target exactly (quoted identifiers, same constraint as the read path —
    Derby folds unquoted DDL to UPPER; tests pin this).

    Scale: the data path is the executor-parallel ``write.jdbc`` (one
    connection per partition, ``batchSize``-batched inserts); the driver
    executes only constant-size DDL/MERGE statements. The stage+MERGE is the
    same two-phase shape as the lake sink — the target engine applies the
    upsert set-wise instead of per-row upsert statements from every task.
    """
    url, table = cfg["url"], cfg["table"]
    props = {"batchsize": str(int(cfg.get("batchSize", 1000)))}
    for k in ("driver", "user", "password"):
        if cfg.get(k):
            props[k] = cfg[k]
    if cfg.get("createTableColumnTypes"):
        props["createTableColumnTypes"] = cfg["createTableColumnTypes"]
    conn = _jdbc_connect(spark, cfg)
    try:
        _exec_on_target(conn, cfg.get("preSql", []), table)
        if mode in ("insert", "append"):
            df.write.jdbc(url, table, mode="append", properties=props)
        elif mode in ("replace", "update"):
            keys = cfg.get("writeKeys") or []
            if not keys:
                raise JobValidationError(
                    "jdbc writeMode=replace/update requires writeKeys"
                )
            stage = cfg.get("stageTable", f"{table}_DX_STAGE")
            df.write.jdbc(url, stage, mode="overwrite", properties=props)
            q = '"{}"'.format
            cols = df.columns
            on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in keys)
            non_keys = [c for c in cols if c not in keys]
            upd = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
            ins_cols = ", ".join(q(c) for c in cols)
            ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
            merge = (
                f"MERGE INTO {table} t USING {stage} s ON ({on}) "
                + (f"WHEN MATCHED THEN UPDATE SET {upd} " if non_keys else "")
                + f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) "
                f"VALUES ({ins_vals})"
            )
            _exec_on_target(conn, [merge, f"DROP TABLE {stage}"], table)
        else:
            raise JobValidationError(f"jdbc writer: unknown writeMode {mode!r}")
        _exec_on_target(conn, cfg.get("postSql", []), table)
    finally:
        conn.close()
    return None


def pre_check(spark: SparkSession, config) -> list[str]:
    """dryRun: validate without moving data (JobContainer.preCheck parity).
    Returns a list of problems (empty = ok)."""
    cfg = load_config(config)
    problems = []
    m = cfg.get("maintenance")
    if m is not None:
        if cfg.get("reader") or cfg.get("writer"):
            problems.append(
                "maintenance: cannot combine with reader/writer in one job"
            )
        if not m.get("path"):
            problems.append("maintenance: requires 'path'")
        else:
            try:
                if not LakeTable.exists(
                    m["path"], fs=_open_lake(spark, m["path"]).fs
                ):
                    problems.append(
                        f"maintenance: no lake table at {m['path']!r}"
                    )
            except Exception as ex:
                problems.append(f"maintenance: {ex}")
        for k in m.get("thresholds") or {}:
            if k not in _MAINT_THRESHOLDS:
                problems.append(f"maintenance: unknown threshold {k!r}")
        return problems
    r = cfg.get("reader", {})
    try:
        clean, _ = _read(spark, r)
        clean.schema  # force analysis
        if r.get("where"):
            clean.limit(0).count()
    except Exception as ex:
        problems.append(f"reader: {ex}")
    w = cfg.get("writer", {})
    if w.get("type") not in (
        "parquet", "csv", "console", "lake_merge", "lake_replay",
        "training_export", "jdbc",
    ):
        problems.append(f"writer: unknown type {w.get('type')!r}")
    if w.get("type") == "jdbc":
        for req in ("url", "table"):
            if not w.get(req):
                problems.append(f"writer: jdbc requires {req!r}")
        if w.get("writeMode") in ("replace", "update") and not w.get("writeKeys"):
            problems.append("writer: jdbc writeMode=replace/update requires writeKeys")
        if w.get("url"):
            # the reference preCheck opens a real connection to the target
            # (JobContainer.preCheck); do the same rather than parsing
            # target-dialect SQL with Spark's parser
            try:
                _jdbc_connect(spark, w).close()
            except Exception as ex:
                head = " ".join(str(ex).splitlines()[:2]).strip()
                problems.append(f"writer: jdbc connect: {head}")
    if w.get("type") == "lake_merge" and w.get("writeMode") == "mergeInto":
        mi = w.get("merge")
        if not isinstance(mi, dict):
            problems.append("writer: mergeInto requires a 'merge' clause object")
        else:
            if not (
                mi.get("whenMatchedUpdate")
                or mi.get("whenMatchedDelete")
                or mi.get("whenNotMatchedInsert", "all")
            ):
                problems.append("writer: mergeInto has no clauses")
            for cond in ("matchedCondition", "deleteCondition", "insertCondition"):
                if mi.get(cond):
                    try:
                        _parse_only(spark, f"SELECT 1 WHERE {mi[cond]}")
                    except Exception as ex:
                        head = " ".join(str(ex).splitlines()[:2]).strip()
                        problems.append(f"writer: merge {cond}: {head}")
    for stmt in cfg.get("preSql", []) + cfg.get("postSql", []):
        try:
            _parse_only(spark, _render_sql(stmt, w))
        except Exception as ex:
            problems.append(f"sql {stmt!r}: {ex}")
    from .operators.transformers import is_known_transformer

    try:
        for t in cfg.get("transformers", []):
            if not is_known_transformer(t["name"]):
                problems.append(f"transformer: unknown {t['name']!r}")
    except Exception as ex:
        problems.append(f"transformers: {ex}")
    return problems


def _parse_only(spark: SparkSession, stmt: str) -> None:
    """Syntax-validate a SQL statement WITHOUT executing it (the reference
    preCheck runs statements through the Druid parser, ``WriterUtil.java:
    170-215``). Spark 4 exposes no public parse-only API from Python, so this
    is the one deliberate use of the internal session-state handle; it calls
    the same parser spark.sql would, just stopping before analysis."""
    spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)


def _render_sql(stmt: str, writer_cfg: dict) -> str:
    """The reference renders an ``@table`` placeholder into pre/post SQL per
    split (``WriterUtil.java:79-109``); here it resolves to the writer's
    table/view name (or path)."""
    target = writer_cfg.get("table") or writer_cfg.get("path", "")
    return stmt.replace("@table", target)


def run_job(spark: SparkSession, config, dry_run: bool = False) -> JobResult:
    """Execute one declarative job. Stats protocol: read/dirty/written counts
    ride the single sink action as ``df.observe`` metrics — the plan executes
    ONCE end-to-end (the reference's in-flight Communication counters,
    ``CommunicationTool.java:15-111``; the old count-before-write pattern
    re-ran the whole read/transform plan 2-3x per job)."""
    from pyspark.sql import Observation

    cfg = load_config(config)
    if dry_run:
        problems = pre_check(spark, cfg)
        if problems:
            raise JobValidationError("; ".join(problems))
        return JobResult(0, 0, 0, 0.0, {"dry_run": True})
    if cfg.get("maintenance") is not None:
        problems = pre_check(spark, cfg)
        if problems:
            raise JobValidationError("; ".join(problems))
        return _run_maintenance_job(spark, cfg["maintenance"])
    t0 = time.time()
    for stmt in cfg.get("preSql", []):
        spark.sql(_render_sql(stmt, cfg.get("writer", {})))
    flagged = _read_flagged(spark, cfg["reader"])
    has_dirty = "_dirty" in flagged.columns
    obs_read = Observation()
    aggs = [F.count(F.lit(1)).alias("total")]
    if has_dirty:
        aggs.append(F.sum(F.col("_dirty").cast("bigint")).alias("dirty"))
    flagged = flagged.observe(obs_read, *aggs)
    clean = flagged.where(~F.col("_dirty")).drop("_dirty") if has_dirty else flagged
    out = apply_transformer_chain(clean, cfg.get("transformers", []))
    obs_written = Observation()
    out = out.observe(obs_written, F.count(F.lit(1)).alias("n"))
    sink_n = _write(spark, cfg["writer"], out)
    read_stats = obs_read.get
    dirty_n = int(read_stats.get("dirty") or 0) if has_dirty else 0
    read_n = int(read_stats["total"]) - dirty_n
    written = int(sink_n if sink_n is not None else obs_written.get["n"])
    limit = cfg.get("errorLimit")
    if limit:
        ErrorLimit(
            record=limit.get("record"), percentage=limit.get("percentage")
        ).check(dirty_n, max(read_n + dirty_n, 1))
    for stmt in cfg.get("postSql", []):
        spark.sql(_render_sql(stmt, cfg.get("writer", {})))
    return JobResult(
        records_read=read_n,
        records_written=written,
        dirty_records=dirty_n,
        seconds=round(time.time() - t0, 3),
    )
