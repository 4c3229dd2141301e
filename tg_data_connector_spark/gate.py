"""Driver-gate query implementations + DuckDB oracle SQL.

Every queries() entry in __spark_entry__.py maps to a function here; every
oracle_sql() entry to a SQL string builder. The pairs are written so that the
numeric results are ENGINE-IDENTICAL (not merely approximately equal):

  * hashing goes through md5-prefix-as-int (identical in Spark and DuckDB);
  * embedding math is integer-quantized (round(x*1000) -> exact bigint dot
    products; the only floats are final divisions of identical integers);
  * floating aggregates are rounded AFTER aggregation with matching round();
  * ranks order by the ROUNDED value with an id tie-break, so top-k cuts are
    deterministic on both engines.

CDC entries derive a deterministic changelog from the `events` table with
closed-form column arithmetic (the same formula is written in both dialects),
seed the target from `documents`, run the REAL engine (LakeTable +
ReplayEngine, snapshot commits and all) into a temp dir, and compare its final
table against a windowed SQL oracle.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cdc.dedup import lww_dedup
from .cdc.quality import dirty_predicate
from .cdc.replay import ReplayConfig, ReplayEngine
from .functions.hashing import MINHASH_P, hash32, perm_params, shingles
from .lake import LakeTable, TableSchema
from .operators.dedup_text import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup,
    simhash_near_pairs,
)
from .operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_ann_topk,
    lsh_ann_topk,
)
from .operators.text import (
    STOPWORDS,
    bpe_ish_token_count,
    fingerprint64,
    lang_id,
    quality_features,
    token_count,
)
from .operators.transformers import dx_filter, dx_pad, dx_replace, dx_substr

# ---------------------------------------------------------------- CDC shapes
K_DOCS = 500  # key-space size: doc_id = 'd' || lpad(user_id % K, 8, '0')
N_PARTS = 4
TOK_MOD = 997

SEQ_SCHEMA = TableSchema(
    [
        ("doc_id", "string"),
        ("tokens", "array<int>"),
        ("n_tok", "int"),
        ("source", "string"),
    ]
)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def derive_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic changelog derived from `events` by closed-form arithmetic
    (mirrored in SQL by CHANGELOG_SQL)."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    e = F.col("event_id")
    is_d = (e % 10) < 1
    n = (F.lit(1) + e % 17).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), (e % 17).cast("int")),
        lambda i: ((e * 31 + i * 7) % TOK_MOD).cast("int"),
    )
    return ev.select(
        e.alias("event_id"),
        F.when(is_d, "D").when((e % 10) < 4, "I").otherwise(F.lit("U")).alias("op"),
        e.cast("bigint").alias("commit_lsn"),
        (e % 7).cast("bigint").alias("seq_no"),
        F.concat(
            F.lit("d"), F.lpad((F.col("user_id") % K_DOCS).cast("string"), 8, "0")
        ).alias("doc_id"),
        F.when(is_d, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_d, F.lit(None))
        .when(e % 97 == 96, n + 1)  # malformed: n_tok != size(tokens) -> quarantine
        .otherwise(n)
        .cast("int")
        .alias("n_tok"),
        F.col("event_type").alias("source"),
        (e % N_PARTS).cast("int").alias("part"),
        F.floor(e / N_PARTS).cast("bigint").alias("offset"),
    )


CHANGELOG_SQL = f"""
  SELECT event_id,
    CASE WHEN event_id % 10 < 1 THEN 'D'
         WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op,
    CAST(event_id AS BIGINT) AS commit_lsn,
    CAST(event_id % 7 AS BIGINT) AS seq_no,
    'd' || lpad(CAST(user_id % {K_DOCS} AS VARCHAR), 8, '0') AS doc_id,
    CASE WHEN event_id % 10 < 1 THEN NULL
         ELSE list_transform(range(0, CAST(1 + event_id % 17 AS BIGINT)),
                             i -> (event_id*31 + i*7) % {TOK_MOD}) END AS tokens,
    CASE WHEN event_id % 10 < 1 THEN NULL
         WHEN event_id % 97 = 96 THEN CAST(2 + event_id % 17 AS INT)
         ELSE CAST(1 + event_id % 17 AS INT) END AS n_tok,
    event_type AS source,
    CAST(event_id % {N_PARTS} AS INT) AS part,
    CAST(event_id // {N_PARTS} AS BIGINT) AS off
  FROM events
"""

DIRTY_SQL = "(op <> 'D' AND event_id % 97 = 96)"


def derive_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed rows for the target table, one per key, derived from `documents`."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    base = docs.groupBy((F.col("doc_id") % K_DOCS).alias("k")).agg(
        F.min("doc_id").alias("m")
    )
    m = F.col("m")
    return base.select(
        F.concat(F.lit("d"), F.lpad(F.col("k").cast("string"), 8, "0")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), (m % 13).cast("int")),
            lambda i: ((m * 101 + i * 3) % TOK_MOD).cast("int"),
        ).alias("tokens"),
        (F.lit(1) + m % 13).cast("int").alias("n_tok"),
        F.lit("seed").alias("source"),
    )


SEED_SQL = f"""
  SELECT 'd' || lpad(CAST(k AS VARCHAR), 8, '0') AS doc_id,
         list_transform(range(0, CAST(1 + m % 13 AS BIGINT)),
                        i -> (m*101 + i*3) % {TOK_MOD}) AS tokens,
         CAST(1 + m % 13 AS INT) AS n_tok,
         'seed' AS source
  FROM (SELECT doc_id % {K_DOCS} AS k, min(doc_id) AS m FROM documents GROUP BY 1)
"""

_CSV = "array_to_string(tokens, ',')"  # duckdb; spark uses array_join


def _csv(col):
    return F.array_join(col, ",")


# ---------------------------------------------------------------- CDC queries
def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = derive_changelog(spark, sf_dir)
    return log.select(
        "event_id",
        "op",
        "commit_lsn",
        "seq_no",
        "doc_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        "n_tok",
        "source",
        "part",
        F.col("offset").alias("off"),
    )


def sql_cdc_changelog() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL})
    SELECT event_id, op, commit_lsn, seq_no, doc_id,
           {_CSV} AS tokens_csv, n_tok, source, part, off
    FROM log
    """


def q_cdc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-record split counts by op — exercises the generic quarantine
    predicate (engine side) vs the closed-form dirty definition (oracle)."""
    log = derive_changelog(spark, sf_dir)
    return (
        log.where(dirty_predicate())
        .groupBy("op")
        .agg(F.count("*").alias("n_dirty"))
    )


def sql_cdc_quarantine() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL})
    SELECT op, count(*) AS n_dirty FROM log WHERE {DIRTY_SQL} GROUP BY op
    """


def q_cdc_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = derive_changelog(spark, sf_dir).where(~dirty_predicate())
    src = log.select("doc_id", "op", "commit_lsn", "seq_no", "tokens", "n_tok", "source")
    latest = lww_dedup(src, "doc_id")
    return latest.select(
        "doc_id",
        "op",
        "commit_lsn",
        "seq_no",
        _csv(F.col("tokens")).alias("tokens_csv"),
        "n_tok",
        "source",
    )


def sql_cdc_lww_dedup() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log WHERE NOT {DIRTY_SQL})
    SELECT doc_id, op, commit_lsn, seq_no, {_CSV} AS tokens_csv, n_tok, source
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
    WHERE rn = 1
    """


def q_cdc_merge_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: run the real engine (snapshot table, batched replay with
    watermark commits) and return the final table state."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    table = LakeTable.create(spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16)
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate")
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_merge_final_state() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log WHERE NOT {DIRTY_SQL}),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
      WHERE rn = 1),
    seed AS ({SEED_SQL})
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM latest WHERE op <> 'D'
    UNION ALL
    SELECT s.doc_id, array_to_string(s.tokens, ',') AS tokens_csv, s.n_tok, s.source
    FROM seed s ANTI JOIN latest l ON s.doc_id = l.doc_id
    """


def derive_partial_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PARTIAL-UPDATE changelog (NULL column in a U = unchanged):
    U events with event_id%3==0 omit the tokens/n_tok pair, %3==1 omit source,
    %3==2 carry a full image; I events are always full images; U events with
    event_id%97==96 break the pair contract (n_tok without tokens) and must
    quarantine under the partial dirty predicate."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    e = F.col("event_id")
    is_d = (e % 10) < 1
    is_i = ~is_d & ((e % 10) < 4)
    is_u = ~is_d & ~is_i
    dirty_u = is_u & (e % 97 == 96)
    mask_pair = is_u & ~dirty_u & (e % 3 == 0)
    mask_src = is_u & ~dirty_u & (e % 3 == 1)
    n = (F.lit(1) + e % 17).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), (e % 17).cast("int")),
        lambda i: ((e * 31 + i * 7) % TOK_MOD).cast("int"),
    )
    return ev.select(
        e.alias("event_id"),
        F.when(is_d, "D").when(is_i, "I").otherwise(F.lit("U")).alias("op"),
        e.cast("bigint").alias("commit_lsn"),
        (e % 7).cast("bigint").alias("seq_no"),
        F.concat(
            F.lit("d"), F.lpad((F.col("user_id") % K_DOCS).cast("string"), 8, "0")
        ).alias("doc_id"),
        F.when(is_d | mask_pair | dirty_u, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_d | mask_pair, F.lit(None)).otherwise(n).alias("n_tok"),
        F.when(is_d | mask_src, F.lit(None)).otherwise(F.col("event_type")).alias("source"),
        (e % N_PARTS).cast("int").alias("part"),
        F.floor(e / N_PARTS).cast("bigint").alias("offset"),
    )


PARTIAL_CHANGELOG_SQL = f"""
  SELECT event_id,
    CASE WHEN event_id % 10 < 1 THEN 'D'
         WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op,
    CAST(event_id AS BIGINT) AS commit_lsn,
    CAST(event_id % 7 AS BIGINT) AS seq_no,
    'd' || lpad(CAST(user_id % {K_DOCS} AS VARCHAR), 8, '0') AS doc_id,
    CASE WHEN event_id % 10 < 1
           OR (event_id % 10 >= 4 AND event_id % 97 <> 96 AND event_id % 3 = 0)
           OR (event_id % 10 >= 4 AND event_id % 97 = 96) THEN NULL
         ELSE list_transform(range(0, CAST(1 + event_id % 17 AS BIGINT)),
                             i -> (event_id*31 + i*7) % {TOK_MOD}) END AS tokens,
    CASE WHEN event_id % 10 < 1
           OR (event_id % 10 >= 4 AND event_id % 97 <> 96 AND event_id % 3 = 0)
         THEN NULL ELSE CAST(1 + event_id % 17 AS INT) END AS n_tok,
    CASE WHEN event_id % 10 < 1
           OR (event_id % 10 >= 4 AND event_id % 97 <> 96 AND event_id % 3 = 1)
         THEN NULL ELSE event_type END AS source
  FROM events
"""


def q_cdc_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL-UPDATE replay (ReplayConfig.resolution="partial"): the real
    engine applies a changelog whose U events carry sparse after-images —
    per-column latest-setter resolution, D/I resets, cross-batch coalesce
    against seeded rows — and the final table is compared against a one-shot
    per-column SQL oracle. Mirrors the merge-engine surface Paimon calls
    partial-update (the reference's writeMode=update relies on the target
    DB's column-wise ON DUPLICATE KEY UPDATE, WriterUtil.java:148-168)."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_pu_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark,
        table,
        ReplayConfig(events_per_batch=50_000, resolution="partial"),
    )
    eng.replay(derive_partial_changelog(spark, sf_dir), run_id="gate_pu")
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_partial_update() -> str:
    vmin = -(2**62)
    return f"""
    WITH log AS ({PARTIAL_CHANGELOG_SQL}),
    clean AS (
      SELECT *, commit_lsn*8 + seq_no AS v FROM log
      WHERE NOT (op = 'U' AND event_id % 97 = 96)),
    perkey AS (
      SELECT doc_id,
        max(v) AS vwin,
        max(CASE WHEN op='D' THEN v END) AS dv,
        max(CASE WHEN op IN ('D','I') THEN v END) AS rv,
        max(CASE WHEN op<>'D' AND (tokens IS NOT NULL OR op='I')
                 THEN {{'v': v, 'x': tokens}} END) AS mtok,
        max(CASE WHEN op<>'D' AND (n_tok IS NOT NULL OR op='I')
                 THEN {{'v': v, 'x': n_tok}} END) AS mnt,
        max(CASE WHEN op<>'D' AND (source IS NOT NULL OR op='I')
                 THEN {{'v': v, 'x': source}} END) AS msrc
      FROM clean GROUP BY doc_id),
    resolved AS (
      SELECT doc_id, vwin, dv, rv,
        CASE WHEN mtok.v > coalesce(dv, {vmin}) THEN mtok.x END AS tokens,
        CASE WHEN mnt.v  > coalesce(dv, {vmin}) THEN mnt.x  END AS n_tok,
        CASE WHEN msrc.v > coalesce(dv, {vmin}) THEN msrc.x END AS source
      FROM perkey),
    seed AS ({SEED_SQL}),
    final AS (
      SELECT r.doc_id,
        CASE WHEN r.rv IS NOT NULL OR s.doc_id IS NULL THEN r.tokens
             ELSE coalesce(r.tokens, s.tokens) END AS tokens,
        CASE WHEN r.rv IS NOT NULL OR s.doc_id IS NULL THEN r.n_tok
             ELSE coalesce(r.n_tok, s.n_tok) END AS n_tok,
        CASE WHEN r.rv IS NOT NULL OR s.doc_id IS NULL THEN r.source
             ELSE coalesce(r.source, s.source) END AS source
      FROM resolved r LEFT JOIN seed s ON r.doc_id = s.doc_id
      WHERE r.vwin <> coalesce(r.dv, -1)
      UNION ALL
      SELECT s.doc_id, s.tokens, s.n_tok, s.source
      FROM seed s ANTI JOIN clean c ON s.doc_id = c.doc_id)
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM final
    """


def derive_agg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic changelog for the AGGREGATION merge engine: n_tok is an
    independent accumulator (U events contribute 1+e%5, masked out when
    e%11==0), tokens/source follow "last" semantics (U sets tokens when
    e%3==0, source when e%3==1), I events are full images that restart the
    accumulator, D events reset everything."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    e = F.col("event_id")
    is_d = (e % 10) < 1
    is_i = ~is_d & ((e % 10) < 4)
    is_u = ~is_d & ~is_i
    n_full = (F.lit(1) + e % 17).cast("int")
    contrib = (F.lit(1) + e % 5).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), (e % 17).cast("int")),
        lambda i: ((e * 31 + i * 7) % TOK_MOD).cast("int"),
    )
    return ev.select(
        e.alias("event_id"),
        F.when(is_d, "D").when(is_i, "I").otherwise(F.lit("U")).alias("op"),
        e.cast("bigint").alias("commit_lsn"),
        (e % 7).cast("bigint").alias("seq_no"),
        F.concat(
            F.lit("d"), F.lpad((F.col("user_id") % K_DOCS).cast("string"), 8, "0")
        ).alias("doc_id"),
        F.when(is_i | (is_u & (e % 3 == 0)), tokens).alias("tokens"),
        F.when(is_i, n_full)
        .when(is_u & (e % 11 != 0), contrib)
        .alias("n_tok"),
        F.when(is_i | (is_u & (e % 3 == 1)), F.col("event_type")).alias("source"),
        (e % N_PARTS).cast("int").alias("part"),
        F.floor(e / N_PARTS).cast("bigint").alias("offset"),
    )


AGG_CHANGELOG_SQL = f"""
  SELECT event_id,
    CASE WHEN event_id % 10 < 1 THEN 'D'
         WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op,
    CAST(event_id AS BIGINT) AS commit_lsn,
    CAST(event_id % 7 AS BIGINT) AS seq_no,
    'd' || lpad(CAST(user_id % {K_DOCS} AS VARCHAR), 8, '0') AS doc_id,
    CASE WHEN (event_id % 10 >= 1 AND event_id % 10 < 4)
           OR (event_id % 10 >= 4 AND event_id % 3 = 0)
         THEN list_transform(range(0, CAST(1 + event_id % 17 AS BIGINT)),
                             i -> (event_id*31 + i*7) % {TOK_MOD}) END AS tokens,
    CASE WHEN event_id % 10 >= 1 AND event_id % 10 < 4
           THEN CAST(1 + event_id % 17 AS INT)
         WHEN event_id % 10 >= 4 AND event_id % 11 <> 0
           THEN CAST(1 + event_id % 5 AS INT) END AS n_tok,
    CASE WHEN (event_id % 10 >= 1 AND event_id % 10 < 4)
           OR (event_id % 10 >= 4 AND event_id % 3 = 1)
         THEN event_type END AS source
  FROM events
"""


def q_cdc_aggregate_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATION merge engine (ReplayConfig resolution="aggregate",
    agg_spec={"n_tok": "sum"} — Paimon's aggregation merge engine): the real
    engine maintains a per-key running total through batched replay (DELETE
    resets the accumulator, INSERT restarts it at its own image, "last"
    columns ride the partial-update machinery) and the final table is
    compared against a one-shot per-column SQL oracle."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_agg_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark,
        table,
        ReplayConfig(
            events_per_batch=50_000,
            resolution="aggregate",
            agg_spec={"n_tok": "sum"},
        ),
    )
    eng.replay(derive_agg_changelog(spark, sf_dir), run_id="gate_agg")
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_aggregate_merge() -> str:
    vmin = -(2**62)
    return f"""
    WITH log AS ({AGG_CHANGELOG_SQL}),
    base AS (SELECT *, commit_lsn*8 + seq_no AS v FROM log),
    perkey AS (
      SELECT doc_id,
        max(v) AS vwin,
        max(CASE WHEN op='D' THEN v END) AS dv,
        max(CASE WHEN op IN ('D','I') THEN v END) AS rv,
        max(CASE WHEN op<>'D' AND (tokens IS NOT NULL OR op='I')
                 THEN {{'v': v, 'x': tokens}} END) AS mtok,
        max(CASE WHEN op<>'D' AND (source IS NOT NULL OR op='I')
                 THEN {{'v': v, 'x': source}} END) AS msrc
      FROM base GROUP BY doc_id),
    sums AS (
      SELECT b.doc_id, CAST(sum(b.n_tok) AS INT) AS agg_ntok
      FROM base b JOIN perkey p ON b.doc_id = p.doc_id
      WHERE b.op <> 'D' AND b.v >= coalesce(p.rv, {vmin})
      GROUP BY b.doc_id),
    resolved AS (
      SELECT p.doc_id, p.vwin, p.dv, p.rv,
        CASE WHEN p.mtok.v > coalesce(p.dv, {vmin}) THEN p.mtok.x END AS tokens,
        s.agg_ntok AS n_tok,
        CASE WHEN p.msrc.v > coalesce(p.dv, {vmin}) THEN p.msrc.x END AS source
      FROM perkey p LEFT JOIN sums s ON p.doc_id = s.doc_id),
    seed AS ({SEED_SQL}),
    final AS (
      SELECT r.doc_id,
        CASE WHEN r.rv IS NOT NULL OR sd.doc_id IS NULL THEN r.tokens
             ELSE coalesce(r.tokens, sd.tokens) END AS tokens,
        CASE WHEN r.rv IS NOT NULL OR sd.doc_id IS NULL THEN r.n_tok
             WHEN r.n_tok IS NULL AND sd.n_tok IS NULL THEN NULL
             ELSE CAST(coalesce(r.n_tok, 0) + coalesce(sd.n_tok, 0) AS INT)
        END AS n_tok,
        CASE WHEN r.rv IS NOT NULL OR sd.doc_id IS NULL THEN r.source
             ELSE coalesce(r.source, sd.source) END AS source
      FROM resolved r LEFT JOIN seed sd ON r.doc_id = sd.doc_id
      WHERE r.vwin <> coalesce(r.dv, -1)
      UNION ALL
      SELECT sd.doc_id, sd.tokens, sd.n_tok, sd.source
      FROM seed sd ANTI JOIN base b ON sd.doc_id = b.doc_id)
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM final
    """


def q_cdc_partial_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL-UPDATE under MERGE-ON-READ: the table DECLARES the merge
    engine (LakeTable.create resolution="partial" — readers must know how to
    fold partial delta images), batches append O(batch) deltas carrying the
    collapse's reset-version pair, the read reconstructs the event stream
    (base rows as full images, deltas as partial events + pseudo-deletes)
    and folds it with the SAME collapse kernel the write path uses
    (lake/table.resolve_columnwise), and mid-replay incremental compaction
    proves folding is lossless. Same oracle as cdc_partial_update."""
    from .lake.maintain import compact

    root = tempfile.mkdtemp(prefix="tgspark_gate_pum_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16,
        resolution="partial",
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark,
        table,
        ReplayConfig(
            events_per_batch=50_000, resolution="partial", merge_mode="mor"
        ),
    )
    eng.replay(derive_partial_changelog(spark, sf_dir), run_id="gate_pum")
    compact(table)
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def q_cdc_aggregate_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATION merge engine under MERGE-ON-READ: per-key running totals
    accumulate across O(batch) delta appends, resolve at read time, survive
    compaction, and keep accumulating off the compacted base. Same oracle as
    cdc_aggregate_merge."""
    from .lake.maintain import compact

    root = tempfile.mkdtemp(prefix="tgspark_gate_aggm_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16,
        resolution="aggregate", agg_spec={"n_tok": "sum"},
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark,
        table,
        ReplayConfig(
            events_per_batch=50_000,
            resolution="aggregate",
            merge_mode="mor",
            agg_spec={"n_tok": "sum"},
        ),
    )
    eng.replay(derive_agg_changelog(spark, sf_dir), run_id="gate_aggm")
    compact(table)
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def q_lake_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity checker over a table the full engine just built (MoR replay
    + incremental compaction + the metadata/scan checks): a healthy table
    must verify CLEAN — n_problems pins every invariant (files present, rows
    match manifests, buckets correctly routed, watermarks monotone, no
    duplicate live keys) and rows_live ties the check to the flagship
    oracle's row count so the entry cannot pass vacuously."""
    from .lake.inspect import verify_table
    from .lake.maintain import compact

    root = tempfile.mkdtemp(prefix="tgspark_gate_fsck_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark, table, ReplayConfig(events_per_batch=50_000, merge_mode="mor")
    )
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate")
    compact(table)
    probs = verify_table(table, deep=True)
    return spark.createDataFrame(
        [(probs.count(), table.read().count())],
        "n_problems bigint, rows_live bigint",
    )


def sql_lake_fsck() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log WHERE NOT {DIRTY_SQL}),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
      WHERE rn = 1),
    seed AS ({SEED_SQL}),
    final AS (
      SELECT doc_id FROM latest WHERE op <> 'D'
      UNION ALL
      SELECT s.doc_id FROM seed s ANTI JOIN latest l ON s.doc_id = l.doc_id)
    SELECT 0::BIGINT AS n_problems, count(*)::BIGINT AS rows_live FROM final
    """


def q_lake_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style conditional MERGE INTO (lake/dml.merge_into): one source
    batch drives all three clauses against a seeded table — matched+purge
    deletes, matched+upd updates (assignments referencing BOTH sides:
    n_tok := s.n_tok + t.n_tok), matched rows whose condition misses stay,
    unmatched source rows insert iff the insert condition holds. The final
    table state is the oracle surface, so clause routing, assignment
    evaluation, and untouched-row preservation are all pinned at once."""
    from .lake.dml import merge_into

    root = tempfile.mkdtemp(prefix="tgspark_gate_mi_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    seed = derive_seed(spark, sf_dir)
    table.append(seed, lsn_col=F.lit(-1), seq_col=F.lit(0))
    nt = F.col("n_tok")
    src = seed.where(nt % 2 == 0).select(
        "doc_id",
        F.transform("tokens", lambda x: x + 1).alias("tokens"),
        (nt + 100).cast("int").alias("n_tok"),
        F.lit("merged").alias("source"),
        F.when(nt % 6 == 0, F.lit("purge")).otherwise(F.lit("upd")).alias("flag"),
    ).unionByName(
        seed.where(nt % 7 == 0).select(
            F.concat("doc_id", F.lit("_n")).alias("doc_id"),
            "tokens",
            "n_tok",
            F.lit("inserted").alias("source"),
            F.lit("new").alias("flag"),
        )
    )
    merge_into(
        table, src,
        when_matched_update={
            "tokens": "s.tokens",
            "n_tok": "s.n_tok + t.n_tok",
            "source": "s.source",
        },
        matched_condition="s.flag = 'upd' AND s.n_tok > t.n_tok",
        when_matched_delete=True,
        delete_condition="s.flag = 'purge'",
        when_not_matched_insert="all",
        insert_condition="s.flag <> 'purge'",
    )
    return table.read().select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_merge_into() -> str:
    return f"""
    WITH seed AS ({SEED_SQL}),
    src AS (
      SELECT doc_id, list_transform(tokens, x -> x + 1) AS tokens,
             CAST(n_tok + 100 AS INT) AS n_tok, 'merged' AS source,
             CASE WHEN n_tok % 6 = 0 THEN 'purge' ELSE 'upd' END AS flag
      FROM seed WHERE n_tok % 2 = 0
      UNION ALL
      SELECT doc_id || '_n', tokens, n_tok, 'inserted', 'new'
      FROM seed WHERE n_tok % 7 = 0
    ),
    final_target AS (
      SELECT t.doc_id,
             CASE WHEN s.flag = 'upd' AND s.n_tok > t.n_tok
                  THEN s.tokens ELSE t.tokens END AS tokens,
             CASE WHEN s.flag = 'upd' AND s.n_tok > t.n_tok
                  THEN CAST(s.n_tok + t.n_tok AS INT) ELSE t.n_tok END AS n_tok,
             CASE WHEN s.flag = 'upd' AND s.n_tok > t.n_tok
                  THEN s.source ELSE t.source END AS source
      FROM seed t LEFT JOIN src s ON t.doc_id = s.doc_id
      WHERE s.doc_id IS NULL OR s.flag <> 'purge'
    ),
    inserts AS (
      SELECT s.doc_id, s.tokens, s.n_tok, s.source
      FROM src s ANTI JOIN seed t ON s.doc_id = t.doc_id
      WHERE s.flag <> 'purge'
    )
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM final_target
    UNION ALL
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM inserts
    """


def q_lake_mview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate view (lake/mview): per-source
    count + token sum refreshed from the CDF in TWO windows — once over the
    seed, once over all of the replay's commits (signed-delta maintenance:
    post-images minus bucket-pruned pre-images, merged additively through
    merge_into; group death deletes the row). The view's final state must
    equal a full GROUP BY over the flagship oracle's final table state."""
    from .lake.mview import create_aggregate_view, refresh_aggregate

    root = tempfile.mkdtemp(prefix="tgspark_gate_mv_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    measures = {"n": ("count", "*"), "tok": ("sum", "n_tok")}
    view = create_aggregate_view(
        table, f"{root}/view", ["source"], measures, n_buckets=8
    )
    refresh_aggregate(table, view, ["source"], measures)  # seed window
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate")
    refresh_aggregate(table, view, ["source"], measures)  # replay window
    return view.read().select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.col("tok").cast("bigint").alias("tok"),
    )


def sql_lake_mview_refresh() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log WHERE NOT {DIRTY_SQL}),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
      WHERE rn = 1),
    seed AS ({SEED_SQL}),
    final AS (
      SELECT source, n_tok FROM latest WHERE op <> 'D'
      UNION ALL
      SELECT s.source, s.n_tok FROM seed s ANTI JOIN latest l
      ON s.doc_id = l.doc_id)
    SELECT source, count(*)::BIGINT AS n, sum(n_tok)::BIGINT AS tok
    FROM final GROUP BY source
    """


def q_cdc_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship twin under the MERGE-ON-READ write path: the same batched
    replay, but each batch commits as DELTA files (lake/merge.delta_append —
    O(batch), the base is never rewritten), reads LWW-resolve base+delta
    (lake/table.resolve_lww), auto-compaction runs mid-replay when any bucket
    exceeds 4 delta files, and a final compact folds the rest. Must equal the
    COW flagship oracle EXACTLY — one write-path trade, zero semantic drift."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_mor_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(
        spark,
        table,
        ReplayConfig(events_per_batch=50_000, merge_mode="mor", mor_compact_after=4),
    )
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_mor")
    from .lake.maintain import compact

    compact(table)
    assert not any(
        f.get("kind") == "delta" for f in table.snapshot().files
    ), "final compaction must leave a base-only snapshot"
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_merge_mor() -> str:
    return sql_cdc_merge_final_state()  # same semantics, different write path


def q_lake_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish over the flagship replay (Iceberg WAP; the
    reference's preCheck gate — ``JobContainer`` preCheck — validates before
    writing, WAP validates the actually-written snapshot). Full replay
    publishes normally, then two staged (publish=False) batches:

      * a POISONED correction (every current row's n_tok set to -1, lsn above
        the whole log) — the audit query finds the violation on the staged
        read, the batch is ``drop_staged``-rejected, and ``gc_orphans``
        reclaims its files; readers never observed it.
      * a valid retention purge (DELETE the 10 lexicographically-smallest
        doc_ids) — audited on the staged read, then ``publish_staged``
        fast-forwards the pointer; the audited bytes ARE the published bytes.

    Returns the final state: flagship oracle minus the 10 purged keys."""
    from .lake.maintain import gc_orphans
    from .lake.merge import merge_upsert

    root = tempfile.mkdtemp(prefix="tgspark_gate_wap_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_wap")
    v_published = table.current_version()
    n_published = table.read().count()
    big_lsn = F.lit(1 << 60)

    # -- staged batch 1: poisoned full-table correction; audit must veto it
    poison = table.read().select(
        "doc_id", "tokens", F.lit(-1).alias("n_tok"), "source",
        F.lit("U").alias("op"), big_lsn.alias("commit_lsn"),
        F.lit(0).cast("bigint").alias("seq_no"),
    )
    staged_bad = merge_upsert(
        table, poison, summary_update={"batch_id": "wap_bad"}, publish=False
    )
    assert table.current_version() == v_published  # invisible while staged
    bad_rows = (
        table.read(snapshot=table.snapshot(staged_bad.version))
        .where(F.col("n_tok") < 0)
        .count()
    )
    assert bad_rows == n_published, "audit read must surface the poisoned rows"
    table.drop_staged(staged_bad.version)
    assert gc_orphans(table, min_age_seconds=0), "rejected files must orphan"

    # -- staged batch 2: purge the 10 smallest doc_ids; audit, then publish
    purge_keys = table.read().select("doc_id").orderBy("doc_id").limit(10)
    purge = purge_keys.select(
        "doc_id",
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
        F.lit("D").alias("op"), big_lsn.alias("commit_lsn"),
        F.lit(0).cast("bigint").alias("seq_no"),
    )
    staged_ok = merge_upsert(
        table, purge, summary_update={"batch_id": "wap_purge"}, publish=False
    )
    assert table.read().count() == n_published  # still invisible
    audit = table.read(snapshot=table.snapshot(staged_ok.version))
    assert audit.count() == n_published - 10
    table.publish_staged(staged_ok.version)
    assert table.current_version() == staged_ok.version
    assert "wap_purge" in table.snapshot().applied_batches()
    return table.read().select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def q_lake_expire_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance safety (Iceberg expire_snapshots + remove_orphan_files):
    run the flagship batched replay — each COW batch supersedes files, so
    dead versions and unreferenced data files accumulate — then bound the
    history with ``expire_snapshots(keep_last=2)`` and reclaim with
    ``gc_orphans(min_age_seconds=0)``. Both must actually remove things
    (asserted), and the visible table state afterwards must be
    BYTE-IDENTICAL to the flagship oracle: maintenance touches only dead
    metadata and unreferenced files, never the live snapshot."""
    from .lake.maintain import expire_snapshots, gc_orphans

    root = tempfile.mkdtemp(prefix="tgspark_gate_gc_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    # small batches on purpose: several COW commits, so superseded files and
    # expirable history actually accumulate for the maintenance pass to find
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=2_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_gc")
    live = {f["path"] for f in table.snapshot().files}
    expired = expire_snapshots(table, keep_last=2)
    assert expired, "batched replay must leave expirable history"
    removed = gc_orphans(table, min_age_seconds=0)
    assert removed, "superseded COW files must be reclaimed after expiry"
    assert not (set(removed) & live), "GC must never touch live files"
    assert len(table.history()) <= 3
    return table.read().select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_expire_gc() -> str:
    return sql_cdc_merge_final_state()  # maintenance must not change state


def sql_lake_wap_audit() -> str:
    return f"""
    WITH final AS ({sql_cdc_merge_final_state()})
    SELECT * FROM final
    WHERE doc_id NOT IN (SELECT doc_id FROM final ORDER BY doc_id LIMIT 10)
    """


def q_lake_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count evolution MID-replay (maintain.rebucket — Iceberg's
    partition-spec evolution for the bucket transform): replay the first
    half of the changelog into a 4-bucket table, rewrite the table to 16
    buckets in one atomic commit, then resume the replay (watermarks skip
    the applied half). The final state must equal the flagship oracle
    EXACTLY — the layout switch is physical only — and every post-switch
    file must live under the 16-wide layout."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_rbk_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=4
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    log = derive_changelog(spark, sf_dir)
    mid = log.agg(
        F.floor((F.min("offset") + F.max("offset")) / 2).cast("bigint")
    ).collect()[0][0]
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(log.where(F.col("offset") <= mid), run_id="gate_rbk")
    from .lake.maintain import rebucket

    rebucket(table, 16)
    assert table.bucket_count() == 16
    eng.replay(log, run_id="gate_rbk")  # resume past the applied half
    snap = table.snapshot()
    assert {f["bucket"] for f in snap.files} <= set(range(16))
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_rebucket() -> str:
    return sql_cdc_merge_final_state()  # physical rewrite, zero logical drift


def q_lake_cdf_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream replication over the change-data-feed (lake/sync.py — the
    bronze->silver hop): replay the first half of the changelog upstream,
    BOOTSTRAP-sync a downstream table (different bucket count — the hop must
    not assume co-layout), replay the rest upstream, then one INCREMENTAL
    sync pass over the feed. The downstream final state must equal the
    flagship oracle exactly — two hops, zero semantic drift."""
    from .lake.sync import sync_table

    root = tempfile.mkdtemp(prefix="tgspark_gate_sync_")
    up = LakeTable.create(
        spark, f"{root}/up", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    dn = LakeTable.create(
        spark, f"{root}/dn", SEQ_SCHEMA, key="doc_id", n_buckets=8
    )
    up.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    log = derive_changelog(spark, sf_dir)
    mid = log.agg(
        F.floor((F.min("offset") + F.max("offset")) / 2).cast("bigint")
    ).collect()[0][0]
    eng = ReplayEngine(spark, up, ReplayConfig(events_per_batch=50_000))
    eng.replay(log.where(F.col("offset") <= mid), run_id="gate_sync")
    assert sync_table(up, dn) is not None  # bootstrap
    eng.replay(log, run_id="gate_sync")
    assert sync_table(up, dn) is not None  # incremental over the CDF
    assert sync_table(up, dn) is None  # converged -> no-op
    final = dn.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_cdf_sync() -> str:
    return sql_cdc_merge_final_state()  # replication adds no semantics


def q_lake_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup path over a key-sorted table (table.py lookup +
    lake/lookup.bucket_of): replay the flagship into a ``sort_on_write``
    table, then fetch the 25 lexicographically-smallest doc_ids through
    ``lookup()`` — buckets computed driver-side by the Python murmur3
    mirror, files pruned to those buckets, the IN-list pushed into the
    parquet scan. Values must equal the flagship oracle restricted to the
    same keys: pruning and sorted layout change bytes read, never results."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_lkp_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16,
        sort_on_write=True,
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_lkp")
    keys = [
        r[0]
        for r in table.read().select("doc_id").orderBy("doc_id").limit(25).collect()
    ]
    got = table.lookup(keys)
    # the lookup plan must actually prune: scanned files ⊆ the keys' buckets
    from .lake.lookup import bucket_of

    nb = table.bucket_count()
    allowed = {
        f["path"] for f in table.snapshot().files
        if f["bucket"] in {bucket_of(k, nb) for k in keys}
    }
    scanned = {p.split("/seq/", 1)[-1] for p in got.inputFiles()}
    assert scanned and scanned <= allowed, "lookup failed to prune buckets"
    return got.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_point_lookup() -> str:
    return f"""
    WITH final AS ({sql_cdc_merge_final_state()})
    SELECT * FROM final
    WHERE doc_id IN (SELECT doc_id FROM final ORDER BY doc_id LIMIT 25)
    """


def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read + snapshot rollback (Iceberg read-at-snapshot /
    rollback_to_snapshot): replay the full changelog (one snapshot per
    50k-event batch), read the table AS OF the mid-replay snapshot, then
    ROLL BACK to that snapshot and read again. Both reads must be identical
    (rollback is just a pointer swap to the time-travel target) and must
    equal the oracle's LWW state over the first half of the offset windows —
    proving historical snapshots stay byte-stable after later commits."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_tt_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    v0 = table.current_version()
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    reports = eng.replay(derive_changelog(spark, sf_dir), run_id="gate_tt")
    n = len(reports)
    assert table.current_version() - v0 == n  # one snapshot per batch
    k = n // 2

    def proj(df):
        return df.select(
            "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok",
            "source",
        )

    hist = proj(table.read(snapshot=table.snapshot(v0 + k)))
    table.rollback(v0 + k)
    rolled = proj(table.read())
    assert hist.exceptAll(rolled).isEmpty() and rolled.exceptAll(hist).isEmpty()
    return rolled


def sql_lake_time_travel() -> str:
    # state after the first half of the replay's offset windows:
    # per-part window width = events_per_batch(50k) / n_parts(4)
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (
      SELECT *, CAST(FLOOR((off - (SELECT MIN(off) FROM log)) / 12500)
                     AS INT) AS w
      FROM log WHERE NOT {DIRTY_SQL}),
    half AS (
      SELECT * FROM clean
      WHERE w < (SELECT CAST(FLOOR((MAX(w) + 1) / 2) AS INT) FROM clean)),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM half)
      WHERE rn = 1),
    seed AS ({SEED_SQL})
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM latest
    WHERE op <> 'D'
    UNION ALL
    SELECT s.doc_id, array_to_string(s.tokens, ',') AS tokens_csv, s.n_tok,
           s.source
    FROM seed s ANTI JOIN latest l ON s.doc_id = l.doc_id
    """


def q_cdc_debezium_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship replay fed from a Debezium-envelope topic frame: the derived
    changelog is encoded to real Debezium JSON (before/after images, op
    c|u|d, source.lsn/sequence version), parsed back with the pure-JVM
    ``from_json`` adapter (cdc/envelopes.py), and replayed through the full
    engine. Oracle = the flagship SQL: the envelope codec must be lossless
    for every engine-relevant column (dirty rows included — they still
    quarantine)."""
    from .cdc.envelopes import from_debezium, to_debezium

    root = tempfile.mkdtemp(prefix="tgspark_gate_dbz_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    topic = to_debezium(
        derive_changelog(spark, sf_dir), ["doc_id", "tokens", "n_tok", "source"]
    )
    log = from_debezium(
        topic, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(log, run_id="gate_dbz")
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_debezium_envelope() -> str:
    return sql_cdc_merge_final_state()  # lossless codec -> same final state


def q_cdc_canal_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship replay fed from an Alibaba Canal FlatMessage topic: the
    derived changelog is encoded into Canal's shape (row ARRAYS per
    envelope, every cell a STRING, intra-envelope order carrying the seq),
    parsed back with the pure-JVM adapter (cdc/envelopes.from_canal), and
    replayed through the full engine. Oracle = the flagship SQL: the
    string-typed codec must be lossless for every engine-relevant column
    (dirty rows included — null cells still quarantine)."""
    from .cdc.envelopes import from_canal, to_canal

    root = tempfile.mkdtemp(prefix="tgspark_gate_canal_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    topic = to_canal(
        derive_changelog(spark, sf_dir), ["doc_id", "tokens", "n_tok", "source"]
    )
    log = from_canal(
        topic, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(log, run_id="gate_canal")
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_canal_envelope() -> str:
    # seq_no values become intra-envelope positions, but derive_changelog's
    # commit_lsn is unique per event, so the LWW outcome is unchanged
    return sql_cdc_merge_final_state()


def q_cdc_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed READ (the consumer side of CDC): replay the derived
    changelog under merge-on-read, then ask the table for every row-level
    change committed since the seed (``table.changes`` — Iceberg changelog /
    Delta CDF analog). The feed must equal, batch for batch, the per-offset-
    window LWW winners of the clean changelog: one row per (batch, key) with
    the winner's version pair, deletes as tombstones (null payload,
    deleted=true)."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_cdf_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    v0 = table.current_version()
    eng = ReplayEngine(
        spark, table, ReplayConfig(events_per_batch=50_000, merge_mode="mor")
    )
    reports = eng.replay(derive_changelog(spark, sf_dir), run_id="gate_cdf")
    # one snapshot per batch, consecutive versions (single writer, every
    # 50k-event batch has clean winners) -> batch index is pure arithmetic
    assert table.current_version() - v0 == len(reports)
    ch = table.changes(v0)
    return ch.select(
        (F.col("_commit_version") - F.lit(v0 + 1)).cast("int").alias("w"),
        "doc_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        "n_tok",
        "source",
        F.col("_lsn").alias("lsn"),
        F.col("_seq").alias("seq"),
        F.col("_deleted").alias("deleted"),
    )


def sql_cdc_changes_feed() -> str:
    # the replay batches by offset window: per_part = 50_000 / n_parts(=4)
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (
      SELECT *, CAST(FLOOR((off - (SELECT MIN(off) FROM log)) / 12500)
                     AS INT) AS w
      FROM log WHERE NOT {DIRTY_SQL})
    SELECT w, doc_id,
           CASE WHEN op = 'D' THEN NULL ELSE {_CSV} END AS tokens_csv,
           CASE WHEN op = 'D' THEN NULL ELSE n_tok END AS n_tok,
           CASE WHEN op = 'D' THEN NULL ELSE source END AS source,
           commit_lsn AS lsn, seq_no AS seq, (op = 'D') AS deleted
    FROM (SELECT *, row_number() OVER (PARTITION BY w, doc_id
                    ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
    WHERE rn = 1
    """


def q_cdf_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CONSUMER parity: the same change feed as cdc_changes_feed,
    but delivered through ``readStream.format("lake_cdf")`` (the Python
    streaming data source over snapshot-version offsets,
    ``streaming/cdf_source.py``) instead of batch ``table.changes()`` —
    drained with availableNow into a memory sink and checked against the
    SAME DuckDB oracle. Proves stream == batch == oracle on real data."""
    from .streaming.cdf_source import read_change_stream

    root = tempfile.mkdtemp(prefix="tgspark_gate_cdfs_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    v0 = table.current_version()
    eng = ReplayEngine(
        spark, table, ReplayConfig(events_per_batch=50_000, merge_mode="mor")
    )
    reports = eng.replay(derive_changelog(spark, sf_dir), run_id="gate_cdfs")
    assert table.current_version() - v0 == len(reports)
    name = "gate_cdf_stream_tail"
    q = (
        read_change_stream(spark, f"{root}/seq", starting_version=v0)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{root}/cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    ch = spark.table(name)
    return ch.select(
        (F.col("_commit_version") - F.lit(v0 + 1)).cast("int").alias("w"),
        "doc_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        "n_tok",
        "source",
        F.col("_lsn").alias("lsn"),
        F.col("_seq").alias("seq"),
        F.col("_deleted").alias("deleted"),
    )


def q_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule schema evolution: an ``op='S'`` event (add_column lang)
    spliced mid-log must be applied transactionally as its own snapshot
    commit BEFORE the events that follow it in (commit_lsn, seq_no) order;
    the final table carries the evolved schema with null-filled history.
    Mirrors the reference's column-mapping config semantics (SURVEY §1.3);
    the data outcome equals the flagship oracle plus the null lang column —
    proving evolution changes the schema, never the data."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_evo_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    log = derive_changelog(spark, sf_dir).withColumn(
        "schema_change", F.lit(None).cast("string")
    )
    mid = log.agg(F.floor(F.max("commit_lsn") / 2).cast("bigint")).collect()[0][0]
    s_event = spark.createDataFrame(
        [(-1, "S", mid, 100, None, None, None, None, 0, 0,
          '{"add_column": {"name": "lang", "type": "string"}}')],
        "event_id bigint, op string, commit_lsn bigint, seq_no bigint, "
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "part int, offset bigint, schema_change string",
    )
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    reports = eng.replay(log.unionByName(s_event), run_id="gate_evo")
    assert sum(r.schema_changes for r in reports) == 1
    final = table.read()
    assert "lang" in final.columns
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source",
        "lang",
    )


def sql_cdc_schema_evolution() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log WHERE NOT {DIRTY_SQL}),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
      WHERE rn = 1),
    seed AS ({SEED_SQL})
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source,
           CAST(NULL AS VARCHAR) AS lang
    FROM latest WHERE op <> 'D'
    UNION ALL
    SELECT s.doc_id, array_to_string(s.tokens, ',') AS tokens_csv, s.n_tok,
           s.source, CAST(NULL AS VARCHAR) AS lang
    FROM seed s ANTI JOIN latest l ON s.doc_id = l.doc_id
    """


def q_cdc_schema_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule widen evolution end-to-end (VERDICT r3 directive #8): an
    ``op='S'`` widen event (tokens array<int> -> array<bigint>) spliced
    mid-log must commit transactionally before the following events, old
    files must read cast-up (lazy evolution, no rewrite), and post-widen
    batches must merge under the widened schema. The data outcome equals the
    flagship oracle — widening changes types, never values — which is
    exactly what makes it oracle-checkable: tokens_csv renders identically
    from array<int> and array<bigint>."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_widen_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    log = derive_changelog(spark, sf_dir).withColumn(
        "schema_change", F.lit(None).cast("string")
    )
    mid = log.agg(F.floor(F.max("commit_lsn") / 2).cast("bigint")).collect()[0][0]
    s_event = spark.createDataFrame(
        [(-1, "S", mid, 100, None, None, None, None, 0, 0,
          '{"widen": {"name": "tokens", "to": "array<bigint>"}}')],
        "event_id bigint, op string, commit_lsn bigint, seq_no bigint, "
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "part int, offset bigint, schema_change string",
    )
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    reports = eng.replay(log.unionByName(s_event), run_id="gate_widen")
    assert sum(r.schema_changes for r in reports) == 1
    final = table.read()
    assert dict(final.dtypes)["tokens"] == "array<bigint>", final.dtypes
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_schema_widen() -> str:
    return sql_cdc_merge_final_state()  # widen changes types, never values


def q_cdc_requeue_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter replay (cdc/replay.requeue_quarantine): the flagship
    replay quarantines its malformed events (n_tok != len(tokens)) to a
    parquet dir; a requeue pass re-ingests them with the upstream fix
    applied (n_tok recomputed), bypassing the watermark pre-filter — safe
    because the MERGE is version-ordered LWW, so a corrected old event wins
    only where its (commit_lsn, seq_no) still beats the applied row. The
    re-run of the same requeue is a no-op (applied-batch-id). Oracle: LWW
    over clean events UNION the FIXED dirty events."""
    from .cdc.replay import requeue_quarantine

    root = tempfile.mkdtemp(prefix="tgspark_gate_rq_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    qdir = f"{root}/quarantine"
    eng = ReplayEngine(
        spark, table,
        ReplayConfig(events_per_batch=50_000, quarantine_dir=qdir),
    )
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_rq")

    def fix(df):  # upstream correction: recompute the token count
        return df.withColumn(
            "n_tok",
            F.when(
                F.col("op") != "D", F.size(F.col("tokens")).cast("int")
            ).otherwise(F.col("n_tok")),
        )

    rep = requeue_quarantine(spark, table, qdir, fix=fix, run_id="gate_rq")
    assert rep.deduped_keys > 0 and not rep.skipped
    v = table.current_version()
    rep2 = requeue_quarantine(spark, table, qdir, fix=fix, run_id="gate_rq")
    assert rep2.skipped and table.current_version() == v  # idempotent
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_requeue_quarantine() -> str:
    # same LWW as the flagship, but dirty I/U events participate with the
    # FIX applied (n_tok := len(tokens)) instead of being dropped
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    fixed AS (
      SELECT op, commit_lsn, seq_no, doc_id, tokens,
             CASE WHEN {DIRTY_SQL} THEN CAST(len(tokens) AS INT)
                  ELSE n_tok END AS n_tok,
             source
      FROM log),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM fixed)
      WHERE rn = 1),
    seed AS ({SEED_SQL})
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM latest WHERE op <> 'D'
    UNION ALL
    SELECT s.doc_id, array_to_string(s.tokens, ',') AS tokens_csv, s.n_tok, s.source
    FROM seed s ANTI JOIN latest l ON s.doc_id = l.doc_id
    """


def q_lake_tag_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg tags): pin the mid-replay snapshot under a tag,
    then EXPIRE everything but the last snapshot — the tagged version must
    survive retention (ref-based keep) and read back byte-identical to the
    time-travel oracle. Also pins tag immutability: re-tagging the same name
    at another version raises; same version is an idempotent no-op."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_tag_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    v0 = table.current_version()
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    reports = eng.replay(derive_changelog(spark, sf_dir), run_id="gate_tag")
    k = len(reports) // 2
    table.tag("audit", v0 + k)
    assert table.tag("audit", v0 + k) == v0 + k  # idempotent re-tag
    try:
        # v0+k+1 always exists (k = n//2 < n) and always differs from v0+k
        table.tag("audit", v0 + k + 1)
        raise AssertionError("re-tagging another version must fail")
    except ValueError:
        pass
    from .lake.maintain import expire_snapshots

    expired = expire_snapshots(table, keep_last=1)
    assert expired and (v0 + k) not in expired  # tag kept it alive
    assert (v0 + k) in table.history()
    final = table.read(snapshot=table.snapshot(tag="audit"))
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_tag_read() -> str:
    return sql_lake_time_travel()  # same mid-replay pin, reached via the ref


def q_lake_branch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch workflow (Iceberg writable refs): replay the first half into
    main, fork a ``staging`` branch, replay the REST through the branch
    handle — main must stay frozen at the fork point the whole time — then
    FAST-FORWARD main onto the branch head. Final main state equals the
    flagship oracle exactly: the branch hop is pointer motion, never data
    drift. Also pins: non-descendant fast-forward raises, drop_branch keeps
    the commits time-travel-readable."""
    root = tempfile.mkdtemp(prefix="tgspark_gate_br_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    log = derive_changelog(spark, sf_dir)
    mid = log.agg(
        F.floor((F.min("offset") + F.max("offset")) / 2).cast("bigint")
    ).collect()[0][0]
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(log.where(F.col("offset") <= mid), run_id="gate_br")
    fork = table.current_version()
    staging = table.create_branch("staging")
    eng2 = ReplayEngine(spark, staging, ReplayConfig(events_per_batch=50_000))
    eng2.replay(log, run_id="gate_br")  # resumes past the applied half
    assert table.current_version() == fork  # main frozen during branch work
    head = staging.current_version()
    assert head > fork and table.branches() == {"staging": head}
    table.fast_forward(head)
    assert table.current_version() == head
    try:
        staging.fast_forward(fork)  # ancestor, not descendant
        raise AssertionError("non-descendant fast-forward must fail")
    except ValueError:
        pass
    table.drop_branch("staging")
    assert table.branches() == {}
    assert table.snapshot(head).version == head  # commits outlive the ref
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_branch_replay() -> str:
    return sql_cdc_merge_final_state()  # ref motion adds no semantics


def q_lake_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-inspection gate (lake/inspect.py — Iceberg's ``table.files``):
    after the flagship replay, aggregate the FILES table built from manifests
    alone (no data file opened). The manifest row counts must account for
    every live row AND every retained delete tombstone, and the CoW layout
    invariant (exactly one current file per bucket) must hold — proving the
    stats the data-skipping and ops paths rely on are truthful."""
    from .lake.inspect import files_df

    root = tempfile.mkdtemp(prefix="tgspark_gate_meta_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_meta")
    meta = files_df(table)
    return meta.agg(
        F.count("*").cast("int").alias("n_files"),
        F.sum("rows").alias("total_rows"),
        F.countDistinct("bucket").cast("int").alias("n_buckets"),
    )


def sql_lake_files_meta() -> str:
    # total_rows = one row per key ever touched: every clean-event LWW winner
    # (live or tombstone — unmatched deletes tombstone too) + untouched seed
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log WHERE NOT {DIRTY_SQL}),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
      WHERE rn = 1),
    seed AS ({SEED_SQL})
    SELECT CAST(16 AS INT) AS n_files,
           (SELECT count(*) FROM latest)
           + (SELECT count(*) FROM seed s ANTI JOIN latest l
              ON s.doc_id = l.doc_id) AS total_rows,
           CAST(16 AS INT) AS n_buckets
    """


def q_cdc_schema_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rename evolution end-to-end with a LAGGING upstream: replay the first
    half, rename source->origin (metadata-only commit, lake/evolve.py), then
    resume the replay whose events STILL carry the old field name — the
    engine maps them onto the renamed column through the table's rename log
    (cdc/replay.py alias_of; the reference's SnowflakeReader column-mapping
    config, SURVEY §2.3). Files written before the rename resolve the new
    name back at read time. Values equal the flagship oracle with the
    column renamed — rename moves names, never data."""
    from .lake.evolve import apply_schema_change

    root = tempfile.mkdtemp(prefix="tgspark_gate_ren_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    log = derive_changelog(spark, sf_dir)
    mid = log.agg(
        F.floor((F.min("offset") + F.max("offset")) / 2).cast("bigint")
    ).collect()[0][0]
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(log.where(F.col("offset") <= mid), run_id="gate_ren")
    apply_schema_change(
        table, '{"rename_column": {"name": "source", "to": "origin"}}'
    )
    eng.replay(log, run_id="gate_ren")  # events still say `source`
    final = table.read()
    assert "origin" in final.columns and "source" not in final.columns
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "origin"
    )


def sql_cdc_schema_rename() -> str:
    return (
        f"SELECT doc_id, tokens_csv, n_tok, source AS origin "
        f"FROM ({sql_cdc_merge_final_state()})"
    )


def q_cdc_stream_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tail x columnwise engine x merge-on-read, composed: the
    PARTIAL-update changelog tailed as a Structured Streaming source through
    foreachBatch into a table that DECLARES resolution="partial", each
    micro-batch appending MoR deltas. Exactly-once still rides the snapshot
    batch-id/watermark checks; the final resolved read equals the same
    one-shot per-column oracle as cdc_partial_update."""
    from .streaming import stream_replay

    root = tempfile.mkdtemp(prefix="tgspark_gate_spu_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16,
        resolution="partial",
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    src_dir = f"{root}/log"
    derive_partial_changelog(spark, sf_dir).repartition(8).write.parquet(src_dir)
    eng = ReplayEngine(
        spark,
        table,
        ReplayConfig(
            events_per_batch=50_000, resolution="partial", merge_mode="mor"
        ),
    )
    q = stream_replay(
        spark, eng, src_dir, f"{root}/ckpt", max_files_per_trigger=3
    )
    q.awaitTermination(600)
    assert table.current_version() > 1
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def q_cdc_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's CONTINUOUS change-log tail: the changelog staged as
    parquet files and tailed as a Structured Streaming source
    (streaming/foreach.stream_replay), each micro-batch flowing through the
    same apply path (quarantine -> LWW dedup -> MERGE -> snapshot commit)
    via foreachBatch, throttled by maxFilesPerTrigger (the reference's
    Channel byte/record limits, ``Channel.java:176-239``). foreachBatch is
    at-least-once; the snapshot batch-id/watermark check upgrades it to
    exactly-once. Final state equals the flagship BATCH oracle — streaming
    tail and batch replay are the same engine."""
    from .streaming import stream_replay

    root = tempfile.mkdtemp(prefix="tgspark_gate_stream_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    src_dir = f"{root}/log"
    derive_changelog(spark, sf_dir).repartition(8).write.parquet(src_dir)
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    q = stream_replay(
        spark, eng, src_dir, f"{root}/ckpt", max_files_per_trigger=2
    )
    q.awaitTermination(600)
    assert table.current_version() > 1  # micro-batches actually committed
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_stream_replay() -> str:
    return sql_cdc_merge_final_state()  # same engine, streaming driver


def _skewed_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog with a synthetic hot key: a third of all events collapse
    onto ONE doc_id — the skew shape the reference's fair-assignment channel
    balancing addresses (X4) and salting defeats on a hash-partitioned agg."""
    log = derive_changelog(spark, sf_dir).where(~dirty_predicate())
    hot = F.col("event_id") % 3 == 0
    return log.select(
        F.when(hot, F.lit("d-hot-key")).otherwise(F.col("doc_id")).alias("doc_id"),
        "op", "commit_lsn", "seq_no", "tokens", "n_tok", "source",
    )


_SKEW_SQL = """
    SELECT CASE WHEN event_id % 3 = 0 THEN 'd-hot-key' ELSE doc_id END AS doc_id,
           op, commit_lsn, seq_no, tokens, n_tok, source
    FROM log WHERE NOT {dirty}
"""


def q_cdc_salted_skew_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 gate row: the SALTED two-phase LWW dedup under hot-key skew must
    equal the plain window semantics. The salt spreads the hot key's partial
    max over (key, salt) groups so no single task owns the whole hot key;
    the final per-key max collapses them (cdc/dedup.py lww_dedup_salted)."""
    from .cdc.dedup import lww_dedup_salted

    latest = lww_dedup_salted(_skewed_src(spark, sf_dir), "doc_id", 16)
    return latest.select(
        "doc_id", "op", "commit_lsn", "seq_no",
        _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source",
    )


def sql_cdc_salted_skew_dedup() -> str:
    skew = _SKEW_SQL.format(dirty=DIRTY_SQL)
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    skewed AS ({skew})
    SELECT doc_id, op, commit_lsn, seq_no, {_CSV} AS tokens_csv, n_tok, source
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM skewed)
    WHERE rn = 1
    """


def q_cdc_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = derive_changelog(spark, sf_dir)
    return log.groupBy("part").agg(
        F.max("offset").alias("hwm"), F.count("*").alias("n_events")
    )


def sql_cdc_watermarks() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL})
    SELECT part, max(off) AS hwm, count(*) AS n_events FROM log GROUP BY part
    """


# ------------------------------------------------------------- scan/agg/join
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the scan -> project -> aggregate pipeline the reference
    drives via reader `column`/`where` config (SURVEY §2.2)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def sql_pricing_summary() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregate (customer x orders x lineitem) — the operator
    class the reference lacks entirely (SURVEY §2.7: no joins)."""
    c = spark.read.parquet(_t(sf_dir, "customer"))
    o = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def sql_segment_revenue() -> str:
    return """
    SELECT c_mktsegment, o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(DISTINCT o_orderkey) AS n_orders
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderpriority
    """


def q_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions over the event stream (reference gap §2.7: none exist
    there; needed for dedup/sessionization in any CDC engine)."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
    )


def sql_running_window() -> str:
    return """
    SELECT user_id, event_id,
           row_number() OVER w AS rn,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING), 4) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> flag -> cumulative
    session id -> per-session aggregate. The streaming-state analog in batch."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
            > 1800,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_s"),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.col("ts").cast("timestamp").cast("long")).alias("start_epoch"),
        F.max(F.col("ts").cast("timestamp").cast("long")).alias("end_epoch"),
    )


def sql_sessionize() -> str:
    return """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END
          AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      -- CAST: DuckDB's sum() over INT yields HUGEINT, which hashes differently
      -- from Spark's BIGINT even when every value is identical
      SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id, count(*) AS n_events,
           min(CAST(floor(epoch(ts)) AS BIGINT)) AS start_epoch,
           max(CAST(floor(epoch(ts)) AS BIGINT)) AS end_epoch
    FROM sess GROUP BY user_id, session_id
    """


def sql_sessionize_stream() -> str:
    # Exact model of the streaming drain (see q_sessionize_stream): batch
    # sessions, minus each user's LAST session unless the final watermark
    # (epoch_ms(max ts) - 10000, Spark tracks event time in ms) passed its
    # end + gap — the state timeout is set to (end+gap)*1000 + 1 ms and
    # fires on strict comparison against the watermark.
    return """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END
          AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged),
    agg AS (
      SELECT user_id, session_id, count(*) AS n_events,
             min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start,
             max(CAST(floor(epoch(ts)) AS BIGINT)) AS session_end,
             max(session_id) OVER (PARTITION BY user_id) AS last_sid
      FROM sess GROUP BY user_id, session_id),
    wm AS (SELECT epoch_ms(max(ts)) - 10000 AS wm_ms FROM events)
    SELECT user_id, session_start, session_end, n_events
    FROM agg, wm
    WHERE session_id < last_sid
       OR (session_end + 1800) * 1000 + 1 < wm_ms
    """


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState) over the
    events table, availableNow replay. The drain is deterministic on a fixed
    input, so the watermark rule IS SQL-expressible (sql_sessionize_stream):
    a session is emitted iff a later event for the same user closed it
    in-batch (every non-last session) OR the final event-time watermark
    (global max event time in ms minus the 10 s delay) passed its
    end + gap — the timeout fired in the terminal no-data micro-batch. The
    subset/superset structural invariant vs batch ``sessionize`` is
    additionally pinned by
    ``tests/test_streaming.py::test_stateful_sessionize_stream_matches_batch_sf001``."""
    from .streaming.stateful import sessionize_stream

    root = tempfile.mkdtemp(prefix="tgspark_gate_stream_")
    src, sink, ck = f"{root}/src", f"{root}/out", f"{root}/ck"
    spark.read.parquet(_t(sf_dir, "events")).select(
        F.col("user_id").cast("bigint"), F.col("ts").cast("timestamp")
    ).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, "ts", gap_sec=1800, watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.schema(
        "user_id bigint, session_start bigint, session_end bigint, n_events bigint"
    ).parquet(sink)


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


def sql_rollup_revenue() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """


# ------------------------------------------------------------- transformers
def q_dx_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(_t(sf_dir, "customer"))
    out = c.select(
        "c_custkey",
        dx_substr(F.col("c_name"), 2, 8).alias("name_sub"),
        dx_pad(F.col("c_mktsegment"), "l", 12, "*").alias("seg_pad"),
        dx_replace(F.col("c_name"), 1, 3, "###").alias("name_repl"),
        F.col("c_acctbal"),
    )
    return dx_filter(out, "c_acctbal", ">", "5000")


def sql_dx_chain() -> str:
    return """
    SELECT c_custkey,
      CASE WHEN c_name IS NULL THEN NULL
           WHEN length(c_name) > 2 THEN substr(c_name, 3, 8) END AS name_sub,
      CASE WHEN length(coalesce(c_mktsegment, '')) >= 12
             THEN substr(coalesce(c_mktsegment, ''), 1, 12)
           ELSE lpad(coalesce(c_mktsegment, ''), 12, '*') END AS seg_pad,
      CASE WHEN c_name IS NULL THEN NULL
           ELSE substr(c_name, 1, 1) || '###' ||
                CASE WHEN length(c_name) > 4 THEN substr(c_name, 5) ELSE '' END
      END AS name_repl,
      c_acctbal
    FROM customer
    WHERE NOT (c_acctbal IS NOT NULL AND c_acctbal > 5000)
    """


def q_dx_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    return dx_filter(o.select("o_orderkey", "o_orderpriority"), "o_orderpriority",
                     "like", "1-.*")


def sql_dx_filter_like() -> str:
    # Java String.matches = full match; drop-on-match polarity
    return """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE NOT (o_orderpriority IS NOT NULL
               AND regexp_full_match(o_orderpriority, '1-.*'))
    """


# ----------------------------------------------------------------- text ops
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return dedup_exact(docs, "doc_id", "text")


def sql_dedup_exact() -> str:
    return """
    WITH fp AS (
      SELECT doc_id,
        CAST(concat('0x', substr(md5(regexp_replace(lower(trim(text)),
             '\\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp
      FROM documents)
    SELECT min(doc_id) AS doc_id, fp FROM fp GROUP BY fp
    """


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (operators/dedup_text.dedup_incremental):
    docs with doc_id % 3 = 0 are pre-ingested into a fingerprint-index
    LakeTable (first batch, also via the operator), then the doc_id % 2 = 0
    batch classifies against it — kept / dup_in_batch / dup_in_corpus with
    the corpus canonical carried through. The oracle recomputes both phases
    from scratch in SQL; the engine must reach the same classification via
    the index it maintained."""
    from .operators.dedup_text import create_dedup_index, dedup_incremental

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    index = create_dedup_index(spark, f"{root}/fpidx", n_buckets=8)
    dedup_incremental(
        index, docs.where("doc_id % 3 = 0"), batch_lsn=1
    ).count()  # absorb the corpus batch
    # batch = every even doc + re-id'd COPIES of the %10 docs, so all three
    # statuses exercise: %6 rows hit the corpus, the copies hit the batch
    batch = docs.where("doc_id % 2 = 0").unionByName(
        docs.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    )
    out = dedup_incremental(index, batch, batch_lsn=2, update_index=False)
    return out.select("doc_id", "fp", "status", "canonical_id")


def sql_dedup_incremental() -> str:
    fp = (
        "CAST(concat('0x', substr(md5(regexp_replace(lower(trim(text)), "
        "'\\s+', ' ', 'g')), 1, 15)) AS BIGINT)"
    )
    return f"""
    WITH corpus AS (
      SELECT min(doc_id) AS canon, {fp} AS fp
      FROM documents WHERE doc_id % 3 = 0 GROUP BY fp),
    brows AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 10 = 0),
    batch AS (
      SELECT doc_id, {fp} AS fp,
             min(doc_id) OVER (PARTITION BY {fp}) AS first_id
      FROM brows)
    SELECT b.doc_id AS doc_id, b.fp AS fp,
           CASE WHEN c.canon IS NOT NULL THEN 'dup_in_corpus'
                WHEN b.doc_id <> b.first_id THEN 'dup_in_batch'
                ELSE 'kept' END AS status,
           CAST(coalesce(c.canon, b.first_id) AS VARCHAR) AS canonical_id
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    """


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def sql_token_counts() -> str:
    return r"""
    SELECT doc_id,
      CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws_tokens,
      len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))
        AS n_bpe_tokens
    FROM documents
    """


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents")).select("doc_id", "text")
    return quality_features(docs, "text").drop("text")


def sql_text_quality() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""
    WITH b AS (
      SELECT doc_id, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
        length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
        len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        w -> w IN ({sw}))) AS n_sw
      FROM documents)
    SELECT doc_id, n_words,
      round(CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0.0 END, 4)
        AS mean_word_len,
      round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 4)
        AS punct_ratio,
      round(CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END, 4)
        AS digit_ratio,
      round(CASE WHEN n_words > 0 THEN n_sw / n_words ELSE 0.0 END, 4)
        AS stopword_ratio,
      round(CAST(CASE WHEN n_words BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) < 0.2
                 THEN 0.2 ELSE 0.0 END
          + CASE WHEN (CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END) < 0.3
                 THEN 0.2 ELSE 0.0 END
          + CASE WHEN (CASE WHEN n_words > 0 THEN n_sw / n_words ELSE 0.0 END) > 0.01
                 THEN 0.2 ELSE 0.0 END AS DOUBLE), 2) AS quality_score
    FROM b
    """


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def sql_lang_id() -> str:
    hits = []
    for lg, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hits.append(
            rf"len(list_filter(string_split_regex(trim(lower(text)), '\s+'),"
            rf" w -> w IN ({lst}))) AS h_{lg}"
        )
    langs = list(STOPWORDS)
    best = f"greatest({', '.join('h_' + lg for lg in langs)})"
    case = "CASE "
    for lg in langs:  # first language in fixed order wins ties (matches Spark impl)
        case += f"WHEN {best} > 0 AND h_{lg} = {best} THEN '{lg}' "
    case += "ELSE 'und' END"
    return f"""
    WITH h AS (SELECT doc_id, {', '.join(hits)} FROM documents)
    SELECT doc_id, {case} AS lang_pred FROM h
    """


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    from .operators.text import rolling_fingerprint

    return docs.select(
        "doc_id",
        fingerprint64(F.col("text")).alias("fp64"),
        _csv(rolling_fingerprint(F.col("text"), 16, 4)).alias("winnow_csv"),
    )


def sql_fingerprint() -> str:
    h32 = "CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)"
    return rf"""
    SELECT doc_id,
      CAST(concat('0x', substr(md5(regexp_replace(lower(trim(text)),
           '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp64,
      array_to_string(
        list_slice(list_sort(list_transform(
          list_transform(range(1, greatest(length(text) - 15, 1) + 1),
                         i -> substr(text, CAST(i AS INT), 16)),
          g -> {h32})), 1, 4), ',') AS winnow_csv
    FROM documents
    """


# ------------------------------------------------------------- near-dup ops
_SHINGLE_K = 5
_H32 = "CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)"
_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(length(text) - {_SHINGLE_K - 1},"
    f" 1) + 1), i -> substr(text, CAST(i AS INT), {_SHINGLE_K})))"
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=_SHINGLE_K, threshold=0.5)


def sql_ngram_jaccard() -> str:
    return f"""
    WITH sh AS (SELECT doc_id, list_transform({_SHINGLES}, s -> {_H32}) AS hs
                FROM documents),
    sizes AS (SELECT doc_id, len(hs) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    freq AS (SELECT h, count(*) AS c FROM ex GROUP BY h),
    exf AS (SELECT ex.doc_id, ex.h FROM ex JOIN freq USING (h) WHERE c <= 200),
    common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
               FROM exf a JOIN exf b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT a, b, round(inter / (na.n + nb.n - inter), 6) AS jaccard
    FROM common JOIN sizes na ON common.a = na.doc_id
                JOIN sizes nb ON common.b = nb.doc_id
    WHERE inter / (na.n + nb.n - inter) >= 0.5
    """


_MH_HASHES, _MH_BANDS, _MH_SEED = 16, 4, 7


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return minhash_lsh_pairs(
        docs, "doc_id", "text", k=_SHINGLE_K, n_hashes=_MH_HASHES, bands=_MH_BANDS,
        seed=_MH_SEED,
    )


def sql_minhash_lsh() -> str:
    params = perm_params(_MH_HASHES, _MH_SEED)
    sig_elems = ", ".join(
        f"list_min(list_transform(hs, h -> (h*{a} + {b}) % {MINHASH_P}))"
        for a, b in params
    )
    r = _MH_HASHES // _MH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {i} AS band, md5(concat_ws('_', {elems})) AS key FROM sig".format(
            i=i,
            elems=", ".join(f"sig[{i * r + j + 1}]" for j in range(r)),
        )
        for i in range(_MH_BANDS)
    )
    return f"""
    WITH sh AS (SELECT doc_id, list_transform({_SHINGLES}, s -> {_H32}) AS hs
                FROM documents),
    sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM sh WHERE len(hs) > 0),
    banded AS ({band_selects}),
    pairs AS (SELECT a.doc_id AS a, b.doc_id AS b
              FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT DISTINCT a, b FROM pairs
    """


def q_dedup_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup candidates (operators/dedup_text.
    neardup_incremental): docs with doc_id % 3 = 0 absorb into the LSH band
    index (capped buckets, smallest ids win), then the doc_id % 2 = 0 batch
    probes it — candidate pairs vs corpus + within batch, identical band
    keys to the batch `dedup_minhash_lsh` path (shared banded_keys). The
    oracle recomputes both phases' banding in SQL with the same cap rule."""
    from .operators.dedup_text import (
        create_neardup_index,
        neardup_incremental,
    )

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    index = create_neardup_index(spark, f"{root}/bandidx", n_buckets=8)
    neardup_incremental(
        index, docs.where("doc_id % 3 = 0"),
        k=_SHINGLE_K, n_hashes=_MH_HASHES, bands=_MH_BANDS, seed=_MH_SEED,
        bucket_cap=16, batch_lsn=1,
    ).count()
    return neardup_incremental(
        index, docs.where("doc_id % 2 = 0"),
        k=_SHINGLE_K, n_hashes=_MH_HASHES, bands=_MH_BANDS, seed=_MH_SEED,
        bucket_cap=16, batch_lsn=2, update_index=False,
    )


def sql_dedup_neardup_incremental() -> str:
    params = perm_params(_MH_HASHES, _MH_SEED)
    sig_elems = ", ".join(
        f"list_min(list_transform(hs, h -> (h*{a} + {b}) % {MINHASH_P}))"
        for a, b in params
    )
    r = _MH_HASHES // _MH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {i} AS band, md5(concat_ws('_', {elems})) AS key FROM sig".format(
            i=i,
            elems=", ".join(f"sig[{i * r + j + 1}]" for j in range(r)),
        )
        for i in range(_MH_BANDS)
    )
    return f"""
    WITH sh AS (SELECT doc_id, list_transform({_SHINGLES}, s -> {_H32}) AS hs
                FROM documents),
    sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM sh WHERE len(hs) > 0),
    banded AS ({band_selects}),
    -- capped corpus buckets: per band key keep the 16 smallest id STRINGS
    corpus AS (
      SELECT CAST(doc_id AS VARCHAR) AS id, band, key,
             row_number() OVER (PARTITION BY band, key
                                ORDER BY CAST(doc_id AS VARCHAR)) AS rn
      FROM banded WHERE doc_id % 3 = 0),
    corpus_kept AS (SELECT id, band, key FROM corpus WHERE rn <= 16),
    batch AS (
      SELECT CAST(doc_id AS VARCHAR) AS id, band, key,
             row_number() OVER (PARTITION BY band, key
                                ORDER BY CAST(doc_id AS VARCHAR)) AS rn
      FROM banded WHERE doc_id % 2 = 0),
    batch_kept AS (SELECT id, band, key FROM batch WHERE rn <= 16),
    within AS (
      SELECT x.id AS a, y.id AS b FROM batch_kept x
      JOIN batch_kept y ON x.band = y.band AND x.key = y.key AND x.id < y.id),
    vs_corpus AS (
      SELECT least(n.id, c.id) AS a, greatest(n.id, c.id) AS b
      FROM batch_kept n JOIN corpus_kept c
      ON n.band = c.band AND n.key = c.key AND n.id <> c.id)
    SELECT DISTINCT a, b FROM within
    UNION
    SELECT DISTINCT a, b FROM vs_corpus
    """


def q_text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher document-quality rule set (Rae et al. 2021 —
    word-count/mean-word-length bounds, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, stop-word floor) as pure
    whole-stage-codegen expressions; per-rule booleans + composite keep."""
    from .operators.text import gopher_filters

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return gopher_filters(docs.select("doc_id", "text"), "text").drop("text")


def sql_text_gopher_filters() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""
    WITH b AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE string_split_regex(trim(text), '\s+') END AS words,
        list_filter(string_split(text, chr(10)),
                    l -> length(trim(l)) > 0) AS lines,
        len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        w -> w IN ({sw}))) AS sw_hits
      FROM documents),
    m AS (
      SELECT doc_id, sw_hits,
        len(words) AS n_words,
        CASE WHEN len(words) > 0 THEN
          CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
               AS DOUBLE) / len(words) ELSE 0.0 END AS mean_wlen,
        CASE WHEN len(words) > 0 THEN
          CAST(len(list_filter(words, w -> contains(w, '#')))
             + len(list_filter(words, w -> contains(w, '...')))
               AS DOUBLE) / len(words) ELSE 0.0 END AS sym_ratio,
        CASE WHEN len(lines) > 0 THEN
          CAST(len(list_filter(lines, l -> starts_with(trim(l), '-')
              OR starts_with(trim(l), '*') OR starts_with(trim(l), '•')))
               AS DOUBLE) / len(lines) ELSE 0.0 END AS bullet_frac,
        CASE WHEN len(lines) > 0 THEN
          CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
               AS DOUBLE) / len(lines) ELSE 0.0 END AS ellipsis_frac,
        CASE WHEN len(words) > 0 THEN
          CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
               AS DOUBLE) / len(words) ELSE 0.0 END AS alpha_frac
      FROM b)
    SELECT doc_id,
      (n_words >= 50 AND n_words <= 100000) AS r_word_count,
      (mean_wlen >= 3 AND mean_wlen <= 10) AS r_mean_word_len,
      (sym_ratio <= 0.1) AS r_symbol_ratio,
      (bullet_frac < 0.9) AS r_bullet_lines,
      (ellipsis_frac < 0.3) AS r_ellipsis_lines,
      (alpha_frac >= 0.8) AS r_alpha_words,
      (sw_hits >= 2) AS r_stopwords,
      ((n_words >= 50 AND n_words <= 100000) AND (mean_wlen >= 3 AND mean_wlen <= 10)
       AND sym_ratio <= 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
       AND alpha_frac >= 0.8 AND sw_hits >= 2) AS gopher_keep
    FROM m
    """


def q_dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the MinHash-LSH pair
    graph (operators/dedup_text.connected_components — min-label
    propagation, O(cluster diameter) join+min rounds, localCheckpoint'ed),
    then one canonical doc per cluster for the whole corpus (singletons keep
    themselves). The keep/drop decision a 100-TB dedup pipeline actually
    executes; oracle = DuckDB recursive-CTE transitive closure over the
    identical pair SQL."""
    from .operators.dedup_text import dedup_canonical

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=_SHINGLE_K, n_hashes=_MH_HASHES,
        bands=_MH_BANDS, seed=_MH_SEED,
    )
    return dedup_canonical(docs, pairs, "doc_id")


def sql_dedup_cluster_canonical() -> str:
    return f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({sql_minhash_lsh()})),
    edges AS (SELECT a AS s, b AS d FROM pairs
              UNION SELECT b, a FROM pairs),
    reach(id, comp) AS (
        SELECT s, s FROM edges
      UNION
        SELECT e.s, r.comp FROM edges e JOIN reach r ON e.d = r.id),
    comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
    SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return simhash_dedup(docs, "doc_id", "text", k=_SHINGLE_K)


def sql_simhash() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {2**b} ELSE 0 END)"
        for b in range(32)
    )
    return f"""
    WITH sh AS (SELECT doc_id, list_transform({_SHINGLES}, s -> {_H32}) AS hs
                FROM documents),
    sims AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sh)
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep
    FROM sims GROUP BY simhash HAVING count(*) > 1
    """


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-dup pairs within hamming<=3 (pigeonhole over 4
    8-bit bands)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return simhash_near_pairs(docs, "doc_id", "text", k=_SHINGLE_K, bands=4,
                              max_hamming=3)


def sql_simhash_hamming() -> str:
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {2**b} ELSE 0 END)"
        for b in range(32)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band,"
        f" (simhash // {2 ** (8 * i)}) % 256 AS key FROM sims"
        for i in range(4)
    )
    return f"""
    WITH sh AS (SELECT doc_id, list_transform({_SHINGLES}, s -> {_H32}) AS hs
                FROM documents),
    sims AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sh),
    banded AS ({bands}),
    pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT a, b, hamming FROM pairs WHERE hamming <= 3
    """


# ---------------------------------------------------------------- similarity
_N_QUERIES, _TOPK = 20, 5


def _quantized(vec):
    return F.transform(vec, lambda x: F.round(x.cast("double") * 1000).cast("bigint"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(_t(sf_dir, "embeddings")).select(
        "vec_id", _quantized(F.col("embedding")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return brute_force_topk(emb, queries, "vec_id", "embedding", k=_TOPK)


def sql_cosine_topk() -> str:
    q = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    dot = "list_sum(list_transform(range(1, 65), i -> qa.q[CAST(i AS INT)] * nb.q[CAST(i AS INT)]))"
    return f"""
    WITH qv AS (SELECT vec_id, {q} AS q FROM embeddings),
    scored AS (
      SELECT qa.vec_id AS query_id, nb.vec_id AS neighbor_id,
        round({dot} /
          (sqrt(list_sum(list_transform(qa.q, x -> x*x))) *
           sqrt(list_sum(list_transform(nb.q, x -> x*x)))), 6) AS cos
      FROM qv qa, qv nb
      WHERE qa.vec_id < {_N_QUERIES} AND qa.vec_id <> nb.vec_id)
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {_TOPK}
    """


_LSH_PLANES, _LSH_SEED = 8, 11


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN over integer-quantized embeddings: bucket assignment is
    an exact bigint projection sign, so the oracle reproduces it bit-for-bit."""
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return lsh_ann_topk(emb, queries, dim=64, k=_TOPK, n_planes=_LSH_PLANES,
                        seed=_LSH_SEED)


def sql_lsh_ann() -> str:
    from .operators.similarity import plane_components

    comps = plane_components(_LSH_PLANES, 64, seed=_LSH_SEED)
    q = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    sig_terms = []
    for p, row in enumerate(comps):
        arr = "[" + ", ".join(str(c) for c in row) + "]"
        sig_terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> q[CAST(i AS INT)] * ({arr})[CAST(i AS INT)])) >= 0"
            f" THEN {2**p} ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    dot = "list_sum(list_transform(range(1, 65), i -> qq[CAST(i AS INT)] * nq[CAST(i AS INT)]))"
    return f"""
    WITH qv AS (SELECT vec_id, {q} AS q FROM embeddings),
    sigs AS (SELECT vec_id, q, CAST({sig} AS INT) AS sig FROM qv),
    pairs AS (SELECT qa.vec_id AS query_id, nb.vec_id AS neighbor_id,
                     qa.q AS qq, nb.q AS nq
              FROM sigs qa JOIN sigs nb
              ON qa.sig = nb.sig AND qa.vec_id <> nb.vec_id
              WHERE qa.vec_id < {_N_QUERIES}),
    scored AS (SELECT query_id, neighbor_id,
        round({dot} /
          (sqrt(list_sum(list_transform(qq, x -> x*x))) *
           sqrt(list_sum(list_transform(nq, x -> x*x)))), 6) AS cos
        FROM pairs)
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {_TOPK}
    """


_Q64 = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def _sql_cos(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(range(1, 65), i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]))"
    return (
        f"round({dot} / (sqrt(list_sum(list_transform({a}, x -> x*x))) * "
        f"sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    return embedding_near_dup_pairs(emb, dim=64, threshold=0.2, n_planes=_LSH_PLANES,
                                    seed=_LSH_SEED)


def sql_embedding_near_dup() -> str:
    from .operators.similarity import plane_components

    comps = plane_components(_LSH_PLANES, 64, seed=_LSH_SEED)
    sig_terms = []
    for p, row in enumerate(comps):
        arr = "[" + ", ".join(str(c) for c in row) + "]"
        sig_terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> q[CAST(i AS INT)] * ({arr})[CAST(i AS INT)])) >= 0"
            f" THEN {2**p} ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    return f"""
    WITH qv AS (SELECT vec_id, {_Q64} AS q FROM embeddings),
    sigs AS (SELECT vec_id, q, CAST({sig} AS INT) AS sig FROM qv)
    SELECT sa.vec_id AS a, sb.vec_id AS b, {_sql_cos('sa.q', 'sb.q')} AS cos
    FROM sigs sa JOIN sigs sb ON sa.sig = sb.sig AND sa.vec_id < sb.vec_id
    WHERE {_sql_cos('sa.q', 'sb.q')} >= 0.2
    """


_IVF_CELLS, _IVF_PROBE, _IVF_STRIDE = 16, 4, 97


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < _N_QUERIES)
    return ivf_ann_topk(emb, queries, dim=64, k=_TOPK, n_cells=_IVF_CELLS,
                        n_probe=_IVF_PROBE, centroid_stride=_IVF_STRIDE)


def sql_ivf_ann() -> str:
    return f"""
    WITH qv AS (SELECT vec_id, {_Q64} AS q FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, q AS cv FROM qv
              WHERE vec_id % {_IVF_STRIDE} = 0 ORDER BY vec_id LIMIT {_IVF_CELLS}),
    assign AS (
      SELECT vec_id, q, cell FROM (
        SELECT v.vec_id, v.q, c.cent_id AS cell,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_sql_cos('v.q', 'c.cv')} DESC, c.cent_id) AS rn
        FROM qv v CROSS JOIN cents c) WHERE rn = 1),
    probed AS (
      SELECT vec_id AS query_id, q AS qq, cell FROM (
        SELECT v.vec_id, v.q, c.cent_id AS cell,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY {_sql_cos('v.q', 'c.cv')} DESC, c.cent_id) AS rn
        FROM qv v CROSS JOIN cents c WHERE v.vec_id < {_N_QUERIES})
      WHERE rn <= {_IVF_PROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, {_sql_cos('p.qq', 'a.q')} AS cos
      FROM probed p JOIN assign a ON p.cell = a.cell
      WHERE p.query_id <> a.vec_id)
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
    WHERE rank <= {_TOPK}
    """


# ---------------------------------------------------------------- multimodal
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: synthesize payloads (unhex of md5 stream), sniff
    format from magic bytes, report sizes — expression-only."""
    from .operators.multimodal import media_metadata

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    payloads = docs.select(
        "doc_id",
        F.unhex(
            F.concat(F.md5(F.col("text")), F.md5(F.concat(F.col("text"), F.lit("x"))))
        ).alias("payload"),
    )
    return media_metadata(payloads, "payload").select(
        "doc_id", "n_bytes", "format", "header_hex"
    )


def sql_multimodal_meta() -> str:
    from .operators.multimodal import MAGIC

    sniff = "CASE "
    for magic, name in MAGIC.items():
        sniff += (
            f"WHEN substr(md5(text), 1, 8) LIKE '{magic}%' THEN '{name}' "
        )
    sniff += "ELSE 'unknown' END"
    return f"""
    SELECT doc_id,
           CAST(octet_length(unhex(md5(text) || md5(text || 'x'))) AS INT)
             AS n_bytes,
           {sniff} AS format,
           substr(md5(text) || md5(text || 'x'), 1, 16) AS header_hex
    FROM documents
    """


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode path with the deterministic stub featurizer. The stub
    (byte-chunk means of a 16-byte md5-derived payload, feature_dim=4) is
    closed-form: each feature is mean of 4 uint8 bytes — a sum <= 1020 divided
    by 4, exact in float32 AND double — so the oracle reproduces it exactly."""
    from .operators.multimodal import decode_and_featurize

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    payloads = docs.select(
        "doc_id", F.unhex(F.md5(F.col("text"))).alias("payload")
    )
    out = decode_and_featurize(payloads, "payload", feature_dim=4, use_fake_decoder=True)
    return out.select(
        "doc_id",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 3).alias(f"f{i}")
            for i in range(4)
        ],
    )


def sql_multimodal_features() -> str:
    # byte j (1-based) of unhex(md5(text)) = hex chars [2j-1, 2j]
    def byte(j: int) -> str:
        return f"CAST(('0x' || substr(md5(text), {2 * j - 1}, 2)) AS INT)"

    feats = []
    for i in range(4):
        bs = " + ".join(byte(i * 4 + j) for j in range(1, 5))
        feats.append(f"round(({bs}) / 4.0, 3) AS f{i}")
    return f"SELECT doc_id, {', '.join(feats)} FROM documents"


# ------------------------------------------------- tokens-pipeline terminal ops
_PACK_W = 97  # prime, not a divisor of any doc length -> chunks always span docs


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing over a portable tokenizer (token =
    word length — identical arithmetic in both engines, same trick as
    token_counts)."""
    from .operators.packing import pack_sequences

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "source",
        "doc_id",
        F.transform(
            F.split(F.trim(F.col("text")), r"\s+"), lambda w: F.length(w)
        ).alias("tokens"),
    )
    packed = pack_sequences(
        toks, tokens_col="tokens", order_col="doc_id",
        part_col="source", window=_PACK_W,
    )
    return packed.select(
        "source",
        "chunk_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def sql_seq_packing() -> str:
    return rf"""
    WITH docs AS (
      SELECT source, doc_id,
             list_transform(string_split_regex(trim(text), '\s+'),
                            w -> length(w)) AS toks
      FROM documents
      WHERE length(trim(text)) > 0
    ), sized AS (
      SELECT source, doc_id, toks, len(toks)::bigint AS n,
             (sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - len(toks))::bigint AS off
      FROM docs
    ), spans AS (
      SELECT source, off, n, toks,
             unnest(generate_series(off // {_PACK_W},
                                    (off + n - 1) // {_PACK_W})) AS chunk_id
      FROM sized
    ), pieces AS (
      SELECT source, chunk_id, off,
             toks[(greatest(chunk_id*{_PACK_W} - off, 0) + 1)::int :
                  (least((chunk_id+1)*{_PACK_W} - off, n))::int] AS piece
      FROM spans
    )
    SELECT source, chunk_id,
           array_to_string(flatten(list(piece ORDER BY off)), ',') AS tokens_csv,
           len(flatten(list(piece ORDER BY off)))::bigint AS n_tok,
           count(*)::bigint AS n_docs
    FROM pieces
    GROUP BY source, chunk_id
    """


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText repetition rules. sf documents are single-line, so the
    gate splices a deterministic repeated-line suffix onto every third doc
    (same concat arithmetic in both engines) to exercise the dup-line path;
    the top-2-gram statistic runs on the real text."""
    from .operators.text import repetition_filters

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    t = F.col("text")
    spliced = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            t, F.lit("\n"), F.substring(t, 1, 40),
            F.lit("\n"), F.substring(t, 1, 40),
        ),
    ).otherwise(t)
    rf = repetition_filters(
        docs.select("doc_id", spliced.alias("text"))
    )
    return rf.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        "rep_keep",
    )


def sql_text_repetition() -> str:
    return r"""
    WITH spliced AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || chr(10) || substr(text, 1, 40)
                       || chr(10) || substr(text, 1, 40)
                  ELSE text END AS text
      FROM documents
    ), base AS (
      SELECT doc_id,
        list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                    l -> length(l) > 0) AS lines,
        CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             ELSE string_split_regex(trim(text), '\s+') END AS words
      FROM spliced
    ), stats AS (
      SELECT doc_id,
        len(lines) AS n_lines,
        len(list_distinct(lines)) AS n_dlines,
        coalesce(list_sum(list_transform(lines, l -> length(l))), 0) AS line_chars,
        coalesce(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0)
          AS dline_chars,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0) AS word_chars
      FROM base
    ), grams AS (
      SELECT doc_id, words[i] || ' ' || words[i+1] AS gram
      FROM base, unnest(generate_series(1, len(words) - 1)) t(i)
      WHERE len(words) >= 2
    ), counts AS (
      SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, n * (length(gram) - 1) AS top2_chars
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY n DESC, gram ASC) AS rk FROM counts)
      WHERE rk = 1
    )
    SELECT s.doc_id,
      round(CASE WHEN n_lines > 0 THEN 1.0 - n_dlines / CAST(n_lines AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_line_frac,
      round(CASE WHEN line_chars > 0 THEN 1.0 - dline_chars / CAST(line_chars AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_line_char_frac,
      round(CASE WHEN word_chars > 0 AND top2_chars IS NOT NULL
                 THEN top2_chars / CAST(word_chars AS DOUBLE)
                 ELSE 0.0 END, 6) AS top_2gram_char_frac,
      (CASE WHEN n_lines > 0 THEN 1.0 - n_dlines / CAST(n_lines AS DOUBLE) ELSE 0.0 END) <= 0.30
      AND (CASE WHEN line_chars > 0 THEN 1.0 - dline_chars / CAST(line_chars AS DOUBLE) ELSE 0.0 END) <= 0.20
      AND (CASE WHEN word_chars > 0 AND top2_chars IS NOT NULL
                THEN top2_chars / CAST(word_chars AS DOUBLE) ELSE 0.0 END) <= 0.20
        AS rep_keep
    FROM stats s LEFT JOIN top USING (doc_id)
    """


_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE = r"\+[0-9]{1,3}[ \-][0-9]{2,4}([ \-][0-9]{2,4}){1,3}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction parity. sf documents carry no PII, so the gate appends a
    deterministic contact block derived from doc_id (identical concat in both
    engines), then checks counts + the scrubbed text byte-for-byte."""
    from .operators.text import pii_scrub

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    d = F.col("doc_id")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact u"), d.cast("string"), F.lit("@ex"),
        (d % 7).cast("string"), F.lit(".org ip 10."),
        (d % 256).cast("string"), F.lit(".0."), (d % 100).cast("string"),
        F.when(d % 2 == 0, F.concat(F.lit(" tel +1 555-01"),
                                    F.lpad((d % 100).cast("string"), 2, "0")))
        .otherwise(F.lit("")),
        F.lit(" ."),
    )
    out = pii_scrub(docs.select("doc_id", contact.alias("text")))
    return out.select("doc_id", "n_emails", "n_ips", "n_phones", "text_scrubbed")


def sql_pii_scrub() -> str:
    return rf"""
    WITH aug AS (
      SELECT doc_id,
        text || ' contact u' || doc_id || '@ex' || (doc_id % 7)
             || '.org ip 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
             || CASE WHEN doc_id % 2 = 0
                     THEN ' tel +1 555-01' || lpad((doc_id % 100)::varchar, 2, '0')
                     ELSE '' END
             || ' .' AS text
      FROM documents
    )
    SELECT doc_id,
      len(regexp_extract_all(text, '{_PII_EMAIL}'))::int AS n_emails,
      len(regexp_extract_all(text, '{_PII_IPV4}'))::int AS n_ips,
      len(regexp_extract_all(text, '{_PII_PHONE}'))::int AS n_phones,
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
          '{_PII_IPV4}', '<IP>', 'g'),
        '{_PII_PHONE}', '<PHONE>', 'g') AS text_scrubbed
    FROM aug
    """


_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
_MIX_DEFAULT = 0.1


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture downsampling. The gate swaps the
    production hash (xxhash64, Spark-only) for a portable polynomial hash both
    engines compute identically on the int64 key; the threshold plumbing under
    test is the same either way."""
    from .operators.packing import sample_mixture

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    portable = F.pmod(
        (F.col("doc_id") % F.lit(1000003)) * F.lit(31) + F.lit(7),
        F.lit(1_000_000),
    )
    return sample_mixture(
        docs, _MIX_WEIGHTS, part_col="source", key_col="doc_id",
        hash_expr=portable, default_weight=_MIX_DEFAULT,
    ).select("doc_id", "source")


def sql_mixture_sample() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {int(f * 1_000_000)}"
        for s, f in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
    SELECT doc_id, source FROM documents
    WHERE ((doc_id % 1000003) * 31 + 7) % 1000000 <
          CASE source {cases} ELSE {int(_MIX_DEFAULT * 1_000_000)} END
    """


_DECON_N = 5  # word n-gram width (published pipelines use 8-13; the synthetic
# corpus draws ~100 words/doc from a small vocabulary, so 5 keeps genuine
# cross-doc collisions in the sample — the operator is width-agnostic)


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): the eval set is the
    docs with doc_id % 41 == 0 (a stand-in benchmark); every corpus doc gets
    (n_hits, contaminated) for shared word 5-grams. Eval n-grams broadcast;
    the corpus-side shuffle carries only (doc_id, hit-count)."""
    from .operators.decontam import contamination_flags

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    ev = docs.where(F.col("doc_id") % 41 == 0)
    return contamination_flags(docs, ev, n=_DECON_N)


def sql_text_decontaminate() -> str:
    k = _DECON_N - 1
    return rf"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
               FROM documents),
    ng AS (SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(len(ws) - {k}, 0)),
              i -> array_to_string(ws[i:i+{k}], ' '))) AS gs FROM w),
    ev AS (SELECT DISTINCT unnest(gs) AS ngram FROM ng WHERE doc_id % 41 = 0),
    dn AS (SELECT doc_id, unnest(gs) AS ngram FROM ng),
    hits AS (SELECT dn.doc_id, count(*) AS n_hits
             FROM dn JOIN ev USING (ngram) GROUP BY dn.doc_id)
    SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """


def q_lake_dml_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML (lake/dml.py) over the flagship replay result: an
    UPDATE ... WHERE committed as merge-on-read deltas, then a
    DELETE ... WHERE (GDPR-style purge) committed as a copy-on-write rewrite
    — the rewrite folds the update's delta files in the touched buckets, so
    the gate also pins the MOR->COW cross-path interaction. Both mutations
    are stamped per-row (_lsn, _seq+1), beating exactly the versions read."""
    from .lake.dml import delete_where, update_where

    root = tempfile.mkdtemp(prefix="tgspark_gate_dml_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    eng = ReplayEngine(spark, table, ReplayConfig(events_per_batch=50_000))
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_dml")
    last = F.substring(F.col("doc_id"), 9, 1)
    update_where(
        table,
        last.isin("2", "6"),
        {
            "n_tok": (F.col("n_tok") + 1000).cast("int"),
            "source": F.lit("corrected"),
        },
        mode="mor",
        batch_id="gate-dml-update",
    )
    delete_where(
        table,
        F.substring(F.col("doc_id"), 9, 1).isin("3", "7"),
        mode="cow",
        batch_id="gate-dml-delete",
    )
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_lake_dml_purge() -> str:
    return f"""
    WITH final AS ({sql_cdc_merge_final_state()}),
    upd AS (SELECT doc_id, tokens_csv,
              CASE WHEN substr(doc_id, 9, 1) IN ('2','6')
                   THEN CAST(n_tok + 1000 AS INT) ELSE n_tok END AS n_tok,
              CASE WHEN substr(doc_id, 9, 1) IN ('2','6')
                   THEN 'corrected' ELSE source END AS source
            FROM final)
    SELECT doc_id, tokens_csv, n_tok, source FROM upd
    WHERE substr(doc_id, 9, 1) NOT IN ('3','7')
    """


# ----------------------------------------------------- vocab maintenance ops
_VOCAB_N = 4096  # synthetic old-id space (length*257 + ascii of first char)
_VOCAB_MOD = 65521  # largest prime < 2^16 — new-id space after the remap


def _portable_tokens(prefix: str = "") -> str:
    """DuckDB expression mirroring the Spark-side synthetic tokenizer below."""
    return (
        rf"list_transform(string_split_regex(trim({prefix}text), '\s+'), "
        rf"w -> (length(w) * 257 + ascii(w)) % {_VOCAB_N})"
    )


def _spark_tokens():
    return F.transform(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda w: (F.length(w) * 257 + F.ascii(w)) % _VOCAB_N,
    )


def q_token_vocab_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary migration over pre-tokenized sequences: ids divisible by 17
    are pruned from the vocab (→ unk 0), survivors move to a new id space via
    a Knuth multiplicative hash. The 3855-entry mapping's ids fit the dense
    literal-array LUT, so it takes the expr kernel; the Arrow kernel (ids
    past the dense cap) is pinned against it in tests/test_tokens.py."""
    from .operators.tokens import remap_vocab

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _spark_tokens().alias("tokens")
    )
    mapping = {
        v: (v * 2654435761) % _VOCAB_MOD
        for v in range(_VOCAB_N)
        if v % 17 != 0
    }
    out = remap_vocab(toks, mapping, tokens_col="tokens", unk_id=0)
    return out.select(
        "doc_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        F.size(F.filter(F.col("tokens"), lambda t: t == 0))
        .cast("bigint")
        .alias("n_unk"),
    )


def sql_token_vocab_remap() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), remap AS (
      SELECT doc_id, list_transform(toks,
               t -> CASE WHEN t % 17 = 0 THEN 0
                         ELSE (t * 2654435761) % {_VOCAB_MOD} END) AS rt
      FROM toks
    )
    SELECT doc_id, array_to_string(rt, ',') AS tokens_csv,
           len(list_filter(rt, t -> t = 0))::bigint AS n_unk
    FROM remap
    """


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table (occurrences + document frequency per
    distinct id) — the statistic that drives vocab prune/merge decisions."""
    from .operators.tokens import token_histogram

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _spark_tokens().alias("tokens")
    )
    return token_histogram(toks, min_count=2)


def sql_token_histogram() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), occ AS (
      SELECT unnest(toks) AS token FROM toks
    ), docs_per AS (
      SELECT doc_id, unnest(list_distinct(toks)) AS token FROM toks
    ), o AS (
      SELECT token, count(*)::bigint AS n_occurrences FROM occ GROUP BY token
    ), d AS (
      SELECT token, count(*)::bigint AS n_docs FROM docs_per GROUP BY token
    )
    SELECT o.token::bigint AS token, o.n_occurrences, d.n_docs
    FROM o JOIN d USING (token) WHERE o.n_occurrences >= 2
    """


def q_token_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: per-document mean negative log-likelihood
    under the corpus unigram distribution, vocab TRUNCATED to count>=2 so
    hapax tokens exercise the OOV smoothing path. Scoring is map-only (no
    explode/join/shuffle): the vocab-sized logprob table broadcasts as a
    dense float64 LUT and the per-doc sum is a vectorized cumsum-diff over
    the flat Arrow buffer (the >512-entry vocab forces the Arrow strategy —
    the 100-TB path; expr parity is pinned in tests/test_tokens.py)."""
    from .operators.tokens import token_histogram, unigram_logprob

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _spark_tokens().alias("tokens")
    )
    counts = {
        int(r["token"]): int(r["n_occurrences"])
        for r in token_histogram(toks, min_count=2).collect()
    }
    out = unigram_logprob(toks, counts)
    return out.select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tok"),
        F.round("nll", 4).alias("nll"),
    )


def sql_token_unigram_nll() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), ex AS (
      SELECT doc_id, unnest(toks) AS token FROM toks
    ), hist AS (
      SELECT token, count(*)::BIGINT AS c FROM ex GROUP BY token
      HAVING count(*) >= 2
    ), consts AS (
      SELECT sum(c)::DOUBLE + 0.5 * (count(*) + 1) AS denom FROM hist
    )
    SELECT e.doc_id, count(*)::INT AS n_tok,
           round(-sum(ln((coalesce(h.c, 0)::DOUBLE + 0.5) / c.denom))
                 / count(*), 4) AS nll
    FROM ex e LEFT JOIN hist h USING (token) CROSS JOIN consts c
    GROUP BY e.doc_id
    """


def q_token_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM score (KenLM/CCNet-style perplexity filter):
    p = 0.7*ML-bigram + 0.3*smoothed-unigram, first token pure unigram,
    bigram table pruned to count>=2 so hapax pairs exercise the backoff.
    Scoring is map-only — the bigram table broadcasts as a SORTED packed-key
    array and the per-position probe is one vectorized binary search
    (np.searchsorted) over the flat Arrow buffer; plan-shape pinned in
    tests/test_tokens.py."""
    from .operators.tokens import (
        bigram_histogram,
        bigram_logprob,
        token_histogram,
    )

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _spark_tokens().alias("tokens")
    )
    uni = {
        int(r["token"]): int(r["n_occurrences"])
        for r in token_histogram(toks).collect()
    }
    bi = {
        (int(r["prev"]), int(r["token"])): int(r["n"])
        for r in bigram_histogram(toks, min_count=2).collect()
    }
    out = bigram_logprob(toks, bi, uni, lam=0.7)
    return out.select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tok"),
        F.round("nll", 4).alias("nll"),
    )


def sql_token_bigram_nll() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), ex AS (
      SELECT doc_id, unnest(toks) AS t FROM toks
    ), uni AS (
      SELECT t AS token, count(*)::BIGINT AS c FROM ex GROUP BY 1
    ), uc AS (
      SELECT sum(c)::DOUBLE + 0.5 * (count(*) + 1) AS denom FROM uni
    ), bi AS (
      SELECT pr[1] AS prev, pr[2] AS tok, count(*)::BIGINT AS n
      FROM (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]))
                   AS pr
            FROM toks WHERE len(toks) > 1)
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), ctx AS (
      SELECT prev, sum(n)::DOUBLE AS cn FROM bi GROUP BY prev
    ), pos AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
      FROM toks
    ), scored AS (
      SELECT p.doc_id,
             CASE WHEN p.i = 1
                  THEN ln((coalesce(u.c, 0)::DOUBLE + 0.5) / uc.denom)
                  ELSE ln(0.7 * coalesce(b.n::DOUBLE / cx.cn, 0.0)
                          + (1 - 0.7) * (coalesce(u.c, 0)::DOUBLE + 0.5)
                            / uc.denom)
             END AS lp
      FROM pos p
      CROSS JOIN uc
      LEFT JOIN uni u ON u.token = p.toks[p.i]
      LEFT JOIN bi b
        ON p.i > 1 AND b.prev = p.toks[p.i-1] AND b.tok = p.toks[p.i]
      LEFT JOIN ctx cx ON p.i > 1 AND cx.prev = p.toks[p.i-1]
    )
    SELECT doc_id, count(*)::INT AS n_tok,
           round(-sum(lp) / count(*), 4) AS nll
    FROM scored GROUP BY doc_id
    """


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact top-5 token heavy hitters (vocab-audit report):
    explode + one map-side-combined (source, token) hash-aggregate (shuffle
    bounded by groups x vocab), rank window over the aggregated table only,
    ties broken by token id for cross-engine determinism."""
    from .operators.tokens import token_topk

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "source", _spark_tokens().alias("tokens")
    )
    return token_topk(toks, 5, by="source")


def sql_token_topk() -> str:
    return f"""
    WITH toks AS (
      SELECT source, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), ex AS (
      SELECT source, unnest(toks) AS token FROM toks
    ), agg AS (
      SELECT source, token::BIGINT AS token, count(*)::BIGINT AS n
      FROM ex GROUP BY 1, 2
    ), r AS (
      SELECT source, token, n,
             row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, token)::INT AS rank
      FROM agg
    )
    SELECT source, token, n, rank FROM r WHERE rank <= 5
    """


_SHARD_K = 8


def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export order: shard + in-shard position as
    pure key functions (idempotent re-export). Gate swaps xxhash64 for the
    portable polynomial hash, same as mixture_sample."""
    from .operators.packing import shard_shuffle

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    portable = F.pmod(
        F.col("doc_id") * F.lit(2654435761), F.lit(1048573)
    )
    out = shard_shuffle(
        docs.select("doc_id", "source"),
        n_shards=_SHARD_K,
        key_col="doc_id",
        hash_expr=portable,
    )
    return out.select("shard", "pos", "doc_id", "source")


def sql_shard_shuffle() -> str:
    return f"""
    WITH h AS (
      SELECT doc_id, source, (doc_id * 2654435761) % 1048573 AS hv
      FROM documents
    )
    SELECT (hv % {_SHARD_K})::int AS shard,
           (row_number() OVER (PARTITION BY hv % {_SHARD_K}
                               ORDER BY hv, doc_id) - 1)::bigint AS pos,
           doc_id, source
    FROM h
    """


def q_token_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding context windows (window 16, stride 8 = 50%
    overlap): the no-cross-document-attention chunking recipe. Tail chunks
    kept (drop_last=False) so token conservation is oracle-checkable."""
    from .operators.tokens import chunk_sequences

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _spark_tokens().alias("tokens")
    )
    out = chunk_sequences(toks, window=16, stride=8)
    return out.select(
        "doc_id",
        "chunk_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        "n_tok",
    )


def sql_token_chunk_windows() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) >= 1
    )
    SELECT doc_id, gs::bigint AS chunk_id,
           array_to_string(list_slice(toks, gs * 8 + 1, gs * 8 + 16), ',')
             AS tokens_csv,
           len(list_slice(toks, gs * 8 + 1, gs * 8 + 16))::int AS n_tok
    FROM s, LATERAL unnest(generate_series(0, ((n - 1) // 8)::bigint)) AS t(gs)
    """


def q_token_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-space benchmark decontamination: docs whose id % 37 == 0 stand
    in for a tokenized eval benchmark; every document is flagged with its
    distinct 5-gram-id overlap count. Eval docs self-flag by construction
    (their own stream contains their n-grams) — a built-in positive control
    the oracle confirms."""
    from .operators.tokens import token_contamination_flags

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", _spark_tokens().alias("tokens")
    )
    ev = toks.where(F.col("doc_id") % 37 == 0)
    return token_contamination_flags(toks, ev, n=5)


def sql_token_decontam() -> str:
    grams = (
        "list_distinct(list_transform(range(1, len(toks) - 3), "
        "i -> array_to_string(list_slice(toks, i, i + 4), ',')))"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_portable_tokens()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), ng AS (
      SELECT doc_id, {grams} AS grams FROM toks
    ), ev AS (
      SELECT DISTINCT unnest(grams) AS g FROM ng WHERE doc_id % 37 = 0
    ), dng AS (
      SELECT doc_id, unnest(grams) AS g FROM ng
    ), hits AS (
      SELECT doc_id, count(*)::int AS n_hits
      FROM dng JOIN ev USING (g) GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(h.n_hits, 0)::int AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM toks t LEFT JOIN hits h USING (doc_id)
    """


_BIN_W = 64  # pack_bins gate capacity (tokens = whitespace words here)


def q_pack_bins_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-split bin packing of whole documents into fixed-capacity
    training bins (the fewer-truncations recipe) per source stream in doc_id
    order. The oracle replays the identical sequential recurrence as a
    DuckDB recursive CTE — one recursion step per document rank."""
    from .operators.packing import pack_bins

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    t = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "source",
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    return pack_bins(t, window=_BIN_W)


def sql_pack_bins_greedy() -> str:
    w = _BIN_W
    return rf"""
    WITH RECURSIVE toks AS (
      SELECT source, doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT source, doc_id, n_tok, least(n_tok, {w}) AS take,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
      FROM toks
    ), rec AS (
      SELECT source, doc_id, r, take, 0::BIGINT AS bin_id, 0::BIGINT AS off,
             take::BIGINT AS fill
      FROM s WHERE r = 1
      UNION ALL
      SELECT s.source, s.doc_id, s.r, s.take,
             CASE WHEN rec.fill + s.take <= {w}
                  THEN rec.bin_id ELSE rec.bin_id + 1 END,
             CASE WHEN rec.fill + s.take <= {w} THEN rec.fill ELSE 0 END,
             CASE WHEN rec.fill + s.take <= {w}
                  THEN rec.fill + s.take ELSE s.take::BIGINT END
      FROM rec JOIN s ON s.source = rec.source AND s.r = rec.r + 1
    )
    SELECT rec.source, bin_id, doc_id, off, take::INT AS take,
           (take < n_tok) AS truncated
    FROM rec JOIN toks USING (source, doc_id)
    """


def q_pack_bins_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`assemble_bins`: the pack_bins assignment materialized into actual
    training windows — per-(source, bin) concatenated token arrays (each doc
    contributes its first `take` tokens at its offset). Pins token-level
    assembly: offset ordering, truncation slicing, cross-doc concat."""
    from .operators.packing import assemble_bins

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    t = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "source",
        "doc_id",
        _spark_tokens().alias("tokens"),
    ).withColumn("n_tok", F.size("tokens"))
    out = assemble_bins(t, window=_BIN_W)
    return out.select(
        "source",
        "bin_id",
        _csv(F.col("tokens")).alias("tokens_csv"),
        "n_tok",
        "n_docs",
    )


def sql_pack_bins_assemble() -> str:
    w = _BIN_W
    return rf"""
    WITH RECURSIVE toks AS (
      SELECT source, doc_id, {_portable_tokens()} AS toks,
             len({_portable_tokens()}) AS n_tok
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT source, doc_id, n_tok, least(n_tok, {w}) AS take,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
      FROM toks
    ), rec AS (
      SELECT source, doc_id, r, take, 0::BIGINT AS bin_id, 0::BIGINT AS off,
             take::BIGINT AS fill
      FROM s WHERE r = 1
      UNION ALL
      SELECT s.source, s.doc_id, s.r, s.take,
             CASE WHEN rec.fill + s.take <= {w}
                  THEN rec.bin_id ELSE rec.bin_id + 1 END,
             CASE WHEN rec.fill + s.take <= {w} THEN rec.fill ELSE 0 END,
             CASE WHEN rec.fill + s.take <= {w}
                  THEN rec.fill + s.take ELSE s.take::BIGINT END
      FROM rec JOIN s ON s.source = rec.source AND s.r = rec.r + 1
    ), assembled AS (
      SELECT rec.source, bin_id,
             flatten(list(list_slice(t.toks, 1, rec.take)
                          ORDER BY rec.off, rec.doc_id)) AS toks,
             count(*)::INT AS n_docs
      FROM rec JOIN toks t USING (source, doc_id)
      GROUP BY 1, 2
    )
    SELECT source, bin_id, array_to_string(toks, ',') AS tokens_csv,
           len(toks)::INT AS n_tok, n_docs
    FROM assembled
    """


_SPAN_K = 8  # token k-gram length
_SPAN_W = 4  # winnow window -> detection guaranteed for runs >= k+w-1 = 11
_SPAN_RUN = 24  # planted boilerplate run length
_SPAN_CAP = 64  # hot-fingerprint blocklist threshold


def q_dedup_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup candidates over pre-tokenized sequences
    (winnowing fingerprints, Lee et al. 2021 candidate step): docs whose
    id % 41 == 0 get one of three 24-token boilerplate runs (keyed by
    id % 3) prepended to their real token stream — the planted analog of a
    shared licence header — plus whatever exact >=11-token word runs the
    corpus naturally shares. Gate uses the portable md5 hash32 so DuckDB
    reproduces the min-selection bit-for-bit (engine default: xxhash64)."""
    from .functions.hashing import hash32
    from .operators.tokens import dedup_token_spans

    docs = spark.read.parquet(_t(sf_dir, "documents"))
    run = F.transform(
        F.sequence(F.lit(0), F.lit(_SPAN_RUN - 1)),
        lambda i: ((F.col("doc_id") % 3 + 1) * 5000 + i).cast("int"),
    )
    toks = F.when(
        F.col("doc_id") % 41 == 0, F.concat(run, _spark_tokens())
    ).otherwise(_spark_tokens())
    t = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", toks.alias("tokens")
    )
    return dedup_token_spans(
        t, k=_SPAN_K, w=_SPAN_W, max_fp_docs=_SPAN_CAP, hasher=hash32
    )


def sql_dedup_token_spans() -> str:
    k, w = _SPAN_K, _SPAN_W
    return f"""
    WITH toks AS (
      SELECT doc_id,
        CASE WHEN doc_id % 41 = 0 THEN
          list_concat(list_transform(range(0, {_SPAN_RUN}),
                        i -> (doc_id % 3 + 1) * 5000 + i),
                      {_portable_tokens()})
        ELSE {_portable_tokens()} END AS tokens
      FROM documents WHERE length(trim(text)) > 0
    ), g AS (
      SELECT doc_id,
        CASE WHEN len(tokens) >= {k} THEN
          list_transform(range(1, len(tokens) - {k - 1} + 1),
            i -> CAST(concat('0x', substr(md5(array_to_string(
                   list_slice(tokens, i, i + {k - 1}), ',')), 1, 8)) AS BIGINT))
        ELSE CAST([] AS BIGINT[]) END AS grams
      FROM toks
    ), f AS (
      SELECT doc_id, CASE
          WHEN len(grams) >= {w} THEN
            list_distinct(list_transform(range(1, len(grams) - {w - 1} + 1),
              i -> list_aggregate(list_slice(grams, i, i + {w - 1}), 'min')))
          WHEN len(grams) >= 1 THEN [list_aggregate(grams, 'min')]
          ELSE CAST([] AS BIGINT[]) END AS fps
      FROM g
    ), e AS (
      SELECT doc_id, unnest(fps) AS fp FROM f
    ), hot AS (
      SELECT fp FROM e GROUP BY fp HAVING count(*) > {_SPAN_CAP}
    ), ee AS (
      SELECT * FROM e WHERE fp NOT IN (SELECT fp FROM hot)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::bigint AS shared_fps
    FROM ee a JOIN ee b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


def q_lake_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized column-stats data skipping (Iceberg's lower/upper-bounds
    pruning beyond the key): a table created with stats_cols records per-file
    min/max for declared NON-key columns via one distributed footer job per
    commit; read(filters=...) drops files whose range provably excludes a
    conjunct BEFORE the scan plans, then applies the same predicates
    row-level. Loaded in 4 n_tok-banded appends so file ranges are tight;
    the in-line assert pins that pruning actually skipped files (the read
    below would still be CORRECT without pruning — the assert is what makes
    this a skipping test, not a filter test)."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        F.col("doc_id").alias("_d"), "source"
    )
    d = F.col("_d")
    n = (F.lit(1) + d % 40).cast("int")
    base = docs.select(
        F.concat(F.lit("d"), F.lpad(d.cast("string"), 8, "0")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), (d % 40).cast("int")),
            lambda i: ((d * 13 + i * 7) % TOK_MOD).cast("int"),
        ).alias("tokens"),
        n.alias("n_tok"),
        F.col("source").alias("source"),
        (d % 40).alias("_band"),
    )
    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    table = LakeTable.create(
        spark,
        f"{root}/seq",
        SEQ_SCHEMA,
        key="doc_id",
        n_buckets=8,
        stats_cols=["n_tok", "source"],
    )
    for lo, hi in ((0, 10), (10, 20), (20, 30), (30, 40)):
        band = base.where((F.col("_band") >= lo) & (F.col("_band") < hi)).drop(
            "_band"
        )
        table.append(band, lsn_col=F.lit(lo), seq_col=F.lit(0))
    total = len(table.snapshot().files)
    out = table.read(filters=[("n_tok", ">=", 20), ("source", "=", "src7")])
    out = out.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )
    # force planning-time pruning accounting, then pin that files were skipped
    out.count()
    assert table._last_scan_file_count < total, (
        table._last_scan_file_count,
        total,
    )
    return out


def sql_lake_skipping_read() -> str:
    return f"""
    SELECT 'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
           array_to_string(list_transform(range(0, CAST(1 + doc_id % 40 AS BIGINT)),
                                          i -> (doc_id*13 + i*7) % {TOK_MOD}), ',')
             AS tokens_csv,
           CAST(1 + doc_id % 40 AS INT) AS n_tok,
           source
    FROM documents
    WHERE 1 + doc_id % 40 >= 20 AND source = 'src7'
    """


def q_lake_clustered_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered compaction (Iceberg rewrite_data_files with a sort order /
    Delta OPTIMIZE ZORDER-lite, lake/maintain.compact cluster_by): documents
    land in ONE value-interleaved append, so every file spans the full n_tok
    range and stats_cols pruning is provably inert (asserted). One clustered
    rewrite later — each bucket range-split into narrow n_tok slices — the
    same read(filters=...) skips files at the manifest (asserted) and row
    groups inside survivors via the pushed predicate over the within-file
    sort. Same rows either way; what this entry pins is that MAINTENANCE
    creates the data layout the filter needs, on arrival orders that never
    cluster the column by themselves."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        F.col("doc_id").alias("_d"), "source"
    )
    d = F.col("_d")
    n = (F.lit(1) + d % 40).cast("int")
    base = docs.select(
        F.concat(F.lit("d"), F.lpad(d.cast("string"), 8, "0")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), (d % 40).cast("int")),
            lambda i: ((d * 13 + i * 7) % TOK_MOD).cast("int"),
        ).alias("tokens"),
        n.alias("n_tok"),
        F.col("source").alias("source"),
    )
    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    table = LakeTable.create(
        spark,
        f"{root}/seq",
        SEQ_SCHEMA,
        key="doc_id",
        n_buckets=4,
        stats_cols=["n_tok"],
        cluster_cols=["n_tok"],
    )
    table.append(base, lsn_col=F.lit(1), seq_col=F.lit(0))
    table.read(filters=[("n_tok", "<=", 5)]).count()
    total = len(table.snapshot().files)
    assert table._last_scan_file_count == total  # interleaved: nothing prunes

    from .lake.maintain import compact

    compact(table, files_per_bucket=4)  # cluster_by = declared cluster_cols
    out = table.read(filters=[("n_tok", "<=", 5)]).select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )
    out.count()
    assert table._last_scan_file_count < len(table.snapshot().files)
    return out


def sql_lake_clustered_compact() -> str:
    return f"""
    SELECT 'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
           array_to_string(list_transform(range(0, CAST(1 + doc_id % 40 AS BIGINT)),
                                          i -> (doc_id*13 + i*7) % {TOK_MOD}), ',')
             AS tokens_csv,
           CAST(1 + doc_id % 40 AS INT) AS n_tok,
           source
    FROM documents
    WHERE 1 + doc_id % 40 <= 5
    """


def q_lake_zorder_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order compaction (Delta OPTIMIZE ZORDER BY, lake/zorder +
    compact(cluster_method="zorder")): documents get two DELIBERATELY
    decorrelated dimensions — n_tok cycles fast (d mod 25), src slow
    (d div 25 mod 16) — so a lexicographic (n_tok, src) layout provably
    cannot prune on src alone. After one z-ordered rewrite (Morton
    bit-interleave of both columns' equi-depth ranks, then
    repartitionByRange on the z-value) the TRAILING-column filter
    src = 's03' skips files at the manifest (asserted: scanned < total).
    Rows are layout-invariant; the oracle is the plain filter."""
    docs = spark.read.parquet(_t(sf_dir, "documents")).select(
        F.col("doc_id").alias("_d")
    )
    d = F.col("_d")
    base = docs.select(
        F.concat(F.lit("d"), F.lpad(d.cast("string"), 8, "0")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), (d % 25).cast("int")),
            lambda i: ((d * 13 + i * 7) % TOK_MOD).cast("int"),
        ).alias("tokens"),
        (F.lit(1) + d % 25).cast("int").alias("n_tok"),
        F.concat(
            F.lit("s"),
            F.lpad(((d / 25).cast("long") % 16).cast("string"), 2, "0"),
        ).alias("source"),
    )
    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    table = LakeTable.create(
        spark,
        f"{root}/seq",
        SEQ_SCHEMA,
        key="doc_id",
        n_buckets=2,
        stats_cols=["n_tok", "source"],
        cluster_cols=["n_tok", "source"],
        cluster_method="zorder",
    )
    table.append(base, lsn_col=F.lit(1), seq_col=F.lit(0))

    from .lake.maintain import compact

    compact(table, files_per_bucket=16)  # z-order on declared cluster_cols
    out = table.read(filters=[("source", "=", "s03")]).select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )
    out.count()
    assert table._last_scan_file_count < len(table.snapshot().files), (
        "z-layout must let a trailing-column filter skip files"
    )
    return out


def sql_lake_zorder_compact() -> str:
    return f"""
    SELECT 'd' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
           array_to_string(list_transform(range(0, CAST(1 + doc_id % 25 AS BIGINT)),
                                          i -> (doc_id*13 + i*7) % {TOK_MOD}), ',')
             AS tokens_csv,
           CAST(1 + doc_id % 25 AS INT) AS n_tok,
           's' || lpad(CAST((doc_id // 25) % 16 AS VARCHAR), 2, '0') AS source
    FROM documents
    WHERE (doc_id // 25) % 16 = 3
    """


def q_cdc_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship replay under declarative data-quality EXPECTATIONS (the DLT
    CONSTRAINT..EXPECT surface): a drop-action rule removes clean events with
    n_tok > 15 BEFORE LWW dedup (event-level drop commutes with replay, so
    the DuckDB oracle is just the flagship with the rule folded into its
    clean filter); a warn-action rule counts without filtering. Delete
    events carry NULL n_tok, hence the op = 'D' guard in the rule."""
    from .cdc.replay import Expectation

    root = tempfile.mkdtemp(prefix="tgspark_gate_")
    table = LakeTable.create(
        spark, f"{root}/seq", SEQ_SCHEMA, key="doc_id", n_buckets=16
    )
    table.append(derive_seed(spark, sf_dir), lsn_col=F.lit(-1), seq_col=F.lit(0))
    cfg = ReplayConfig(
        events_per_batch=50_000,
        expectations=[
            Expectation("tok_bound", "op = 'D' OR n_tok <= 15", "drop"),
            Expectation("known_source", "source IS NOT NULL", "warn"),
        ],
    )
    eng = ReplayEngine(spark, table, cfg)
    eng.replay(derive_changelog(spark, sf_dir), run_id="gate_exp")
    final = table.read()
    return final.select(
        "doc_id", _csv(F.col("tokens")).alias("tokens_csv"), "n_tok", "source"
    )


def sql_cdc_expectations() -> str:
    return f"""
    WITH log AS ({CHANGELOG_SQL}),
    clean AS (SELECT * FROM log
              WHERE NOT {DIRTY_SQL} AND (op = 'D' OR n_tok <= 15)),
    latest AS (
      SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY commit_lsn DESC, seq_no DESC) AS rn FROM clean)
      WHERE rn = 1),
    seed AS ({SEED_SQL})
    SELECT doc_id, {_CSV} AS tokens_csv, n_tok, source FROM latest WHERE op <> 'D'
    UNION ALL
    SELECT s.doc_id, array_to_string(s.tokens, ',') AS tokens_csv, s.n_tok, s.source
    FROM seed s ANTI JOIN latest l ON s.doc_id = l.doc_id
    """


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each click event picks up the user's most
    recent purchase at or before it (union-and-carry plan: ONE key exchange,
    O(|L|+|R|) intermediate — never the non-equi-join cross product).
    Right side deduped to one row per (user, ts) so the match is
    well-defined under same-instant purchases at any sf."""
    from .operators.asof import asof_join

    ev = spark.read.parquet(_t(sf_dir, "events"))
    r = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("p_event"),
            F.max_by("value", "event_id").alias("p_value"),
        )
    )
    l = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(l, r, on="user_id", ts="ts", suffix="_p")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_p").alias("p_ts"),
        F.col("p_event_p").alias("p_event"),
        F.col("p_value_p").alias("p_value"),
    )


def sql_asof_join() -> str:
    return """
    WITH r AS (SELECT user_id, ts, max(event_id) AS p_event,
                      arg_max(value, event_id) AS p_value
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         l AS (SELECT event_id, user_id, ts, value
               FROM events WHERE event_type = 'click')
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.ts AS p_ts, r.p_event AS p_event, r.p_value AS p_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """


QUERIES = {
    "cdc_changelog_derive": (q_cdc_changelog, sql_cdc_changelog),
    "cdc_quarantine_counts": (q_cdc_quarantine, sql_cdc_quarantine),
    "cdc_lww_dedup": (q_cdc_lww_dedup, sql_cdc_lww_dedup),
    "cdc_merge_final_state": (q_cdc_merge_final_state, sql_cdc_merge_final_state),
    "cdc_watermarks": (q_cdc_watermarks, sql_cdc_watermarks),
    "q1_pricing_summary": (q_pricing_summary, sql_pricing_summary),
    "q3_segment_revenue": (q_segment_revenue, sql_segment_revenue),
    "window_running": (q_running_window, sql_running_window),
    "sessionize": (q_sessionize, sql_sessionize),
    "sessionize_stream": (q_sessionize_stream, sql_sessionize_stream),
    "cdc_schema_evolution": (q_cdc_schema_evolution, sql_cdc_schema_evolution),
    "cdc_schema_widen": (q_cdc_schema_widen, sql_cdc_schema_widen),
    "cdc_schema_rename": (q_cdc_schema_rename, sql_cdc_schema_rename),
    "cdc_stream_replay": (q_cdc_stream_replay, sql_cdc_stream_replay),
    "cdc_stream_partial": (q_cdc_stream_partial, sql_cdc_partial_update),
    "lake_tag_read": (q_lake_tag_read, sql_lake_tag_read),
    "lake_files_meta": (q_lake_files_meta, sql_lake_files_meta),
    "cdc_canal_envelope": (q_cdc_canal_envelope, sql_cdc_canal_envelope),
    "lake_branch_replay": (q_lake_branch_replay, sql_lake_branch_replay),
    "cdc_requeue_quarantine": (
        q_cdc_requeue_quarantine, sql_cdc_requeue_quarantine,
    ),
    "cdc_merge_mor": (q_cdc_merge_mor, sql_cdc_merge_mor),
    "cdc_partial_update": (q_cdc_partial_update, sql_cdc_partial_update),
    "cdc_aggregate_merge": (q_cdc_aggregate_merge, sql_cdc_aggregate_merge),
    "cdc_partial_update_mor": (q_cdc_partial_update_mor, sql_cdc_partial_update),
    "cdc_aggregate_merge_mor": (
        q_cdc_aggregate_merge_mor, sql_cdc_aggregate_merge,
    ),
    "lake_fsck": (q_lake_fsck, sql_lake_fsck),
    "lake_merge_into": (q_lake_merge_into, sql_lake_merge_into),
    "lake_mview_refresh": (q_lake_mview_refresh, sql_lake_mview_refresh),
    "lake_rebucket": (q_lake_rebucket, sql_lake_rebucket),
    "lake_wap_audit": (q_lake_wap_audit, sql_lake_wap_audit),
    "lake_expire_gc": (q_lake_expire_gc, sql_lake_expire_gc),
    "lake_time_travel": (q_lake_time_travel, sql_lake_time_travel),
    "lake_cdf_sync": (q_lake_cdf_sync, sql_lake_cdf_sync),
    "lake_point_lookup": (q_lake_point_lookup, sql_lake_point_lookup),
    "cdc_debezium_envelope": (q_cdc_debezium_envelope, sql_cdc_debezium_envelope),
    "cdc_changes_feed": (q_cdc_changes_feed, sql_cdc_changes_feed),
    "cdc_salted_skew_dedup": (q_cdc_salted_skew_dedup, sql_cdc_salted_skew_dedup),
    "rollup_revenue": (q_rollup_revenue, sql_rollup_revenue),
    "dx_transform_chain": (q_dx_chain, sql_dx_chain),
    "dx_filter_like": (q_dx_filter_like, sql_dx_filter_like),
    "dedup_exact": (q_dedup_exact, sql_dedup_exact),
    "token_counts": (q_token_counts, sql_token_counts),
    "text_quality": (q_text_quality, sql_text_quality),
    "text_gopher_filters": (q_text_gopher_filters, sql_text_gopher_filters),
    "lang_id": (q_lang_id, sql_lang_id),
    "doc_fingerprint": (q_fingerprint, sql_fingerprint),
    "dedup_ngram_jaccard": (q_ngram_jaccard, sql_ngram_jaccard),
    "dedup_minhash_lsh": (q_minhash_lsh, sql_minhash_lsh),
    "dedup_cluster_canonical": (
        q_dedup_cluster_canonical, sql_dedup_cluster_canonical,
    ),
    "dedup_simhash": (q_simhash, sql_simhash),
    "dedup_simhash_hamming": (q_simhash_hamming, sql_simhash_hamming),
    "ann_cosine_topk": (q_cosine_topk, sql_cosine_topk),
    "ann_lsh_bucketed": (q_lsh_ann, sql_lsh_ann),
    "ann_ivf_cells": (q_ivf_ann, sql_ivf_ann),
    "dedup_embedding_cosine": (q_embedding_near_dup, sql_embedding_near_dup),
    "multimodal_meta": (q_multimodal_meta, sql_multimodal_meta),
    "multimodal_features": (q_multimodal_features, sql_multimodal_features),
    "seq_packing": (q_seq_packing, sql_seq_packing),
    "mixture_sample": (q_mixture_sample, sql_mixture_sample),
    "cdf_stream_tail": (q_cdf_stream_tail, sql_cdc_changes_feed),
    "text_repetition": (q_text_repetition, sql_text_repetition),
    "pii_scrub": (q_pii_scrub, sql_pii_scrub),
    "text_decontaminate": (q_text_decontaminate, sql_text_decontaminate),
    "lake_dml_purge": (q_lake_dml_purge, sql_lake_dml_purge),
    "token_vocab_remap": (q_token_vocab_remap, sql_token_vocab_remap),
    "token_histogram": (q_token_histogram, sql_token_histogram),
    "shard_shuffle": (q_shard_shuffle, sql_shard_shuffle),
    "token_chunk_windows": (q_token_chunk_windows, sql_token_chunk_windows),
    "token_decontam": (q_token_decontam, sql_token_decontam),
    "token_unigram_nll": (q_token_unigram_nll, sql_token_unigram_nll),
    "token_bigram_nll": (q_token_bigram_nll, sql_token_bigram_nll),
    "token_topk": (q_token_topk, sql_token_topk),
    "dedup_token_spans": (q_dedup_token_spans, sql_dedup_token_spans),
    "pack_bins_greedy": (q_pack_bins_greedy, sql_pack_bins_greedy),
    "pack_bins_assemble": (q_pack_bins_assemble, sql_pack_bins_assemble),
    "asof_join": (q_asof_join, sql_asof_join),
    "cdc_expectations": (q_cdc_expectations, sql_cdc_expectations),
    "lake_skipping_read": (q_lake_skipping_read, sql_lake_skipping_read),
    "lake_clustered_compact": (
        q_lake_clustered_compact,
        sql_lake_clustered_compact,
    ),
    "lake_zorder_compact": (q_lake_zorder_compact, sql_lake_zorder_compact),
    "dedup_incremental": (q_dedup_incremental, sql_dedup_incremental),
    "dedup_neardup_incremental": (
        q_dedup_neardup_incremental,
        sql_dedup_neardup_incremental,
    ),
}


def _merge_job_queries() -> None:
    # gate_jobs covers the config-driven job surface (SURVEY §2 rows S2-S7,
    # W2-W4, T5/T6, E3/E4, E6, X3); kept in its own module, merged here so
    # the driver sees ONE queries()/oracle_sql() registry
    from .gate_jobs import JOB_QUERIES

    for name, pair in JOB_QUERIES.items():
        assert name not in QUERIES, name
        QUERIES[name] = pair


_merge_job_queries()


# The round correctness gate verifies the FIRST 50 registry entries in
# dict order. The window is chosen least-recently-verified first, by the
# CORRECTNESS_r0*.json rows: the two entries with no row checked against
# an oracle, the 21 last checked in round 3, the flagship, the two
# streaming apply-path rows and the salted dedup operator row, then the
# entries last checked in round 4 (those with a single row first). The
# remaining entries keep their relative order after the window — their
# round-4/5 rows stand.
_DRIVER_WINDOW = [
    # no row checked against an oracle (2)
    "csv_snappy_read", "sessionize_stream",
    # last verified in round 3 (21)
    "dedup_simhash_hamming", "ann_cosine_topk", "ann_lsh_bucketed",
    "ann_ivf_cells", "dedup_embedding_cosine", "multimodal_meta",
    "multimodal_features", "split_range_cover", "split_string_radix_cover",
    "split_quantile_cover", "sharded_table_union", "query_sql_union",
    "csv_multi_projection", "csv_typed_read", "job_csv_roundtrip",
    "job_lake_merge_writemode", "job_presql_atable", "job_dry_run_problems",
    "transformer_registry_custom", "cdc_resume_after_crash",
    "cdc_bytes_batched",
    # flagship, streaming apply path, salted dedup operator (4)
    "cdc_merge_final_state", "cdc_stream_replay", "cdc_stream_partial",
    "cdc_salted_skew_dedup",
    # last verified in round 4, single row (12)
    "lake_tag_read", "lake_files_meta", "cdc_canal_envelope",
    "lake_branch_replay", "cdc_requeue_quarantine", "lake_fsck",
    "lake_rebucket", "lake_expire_gc", "lake_time_travel",
    "lake_point_lookup", "cdc_debezium_envelope", "cdc_changes_feed",
    # last verified in round 4, earlier rows too (11)
    "cdc_schema_evolution", "cdc_changelog_derive", "cdc_quarantine_counts",
    "cdc_lww_dedup", "cdc_watermarks", "q1_pricing_summary",
    "q3_segment_revenue", "window_running", "sessionize", "rollup_revenue",
    "dx_transform_chain",
]


def _reorder_for_driver_window() -> None:
    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    assert not missing, missing
    ordered = {n: QUERIES[n] for n in _DRIVER_WINDOW}
    for n, pair in QUERIES.items():
        if n not in ordered:
            ordered[n] = pair
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_for_driver_window()
