"""Metadata inspection tables — Iceberg's ``table.files`` / ``table.snapshots``
surface, built from the manifest layer alone (NO data files are opened).

At 100 TB these are the ops queries that must stay cheap: "how many files per
bucket", "how many live rows did the last commit land", "which snapshot holds
batch X" — all answerable from the sharded manifests (O(buckets) small JSON
reads, driver-side) and then handed to Spark as a DataFrame so the usual
filter/agg machinery applies. The reference has no analog (it writes into an
external DB); Iceberg exposes the same via metadata tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table import LakeTable, Snapshot

_FILES_DDL = (
    "path string, bucket int, kind string, schema_id int, rows bigint, "
    "kmin string, kmax string"
)

_SNAPSHOTS_DDL = (
    "version int, parent int, schema_id int, n_files int, n_delta_files int, "
    "total_rows bigint, n_buckets_touched int, applied_batches array<string>"
)


def files_df(table: LakeTable, snapshot: Snapshot | None = None) -> DataFrame:
    """One row per data file in the snapshot's manifests: path, bucket,
    merge-on-read kind (``base``/``delta``), write-time schema id, manifest
    row count, and the per-file key min/max used for data skipping."""
    snap = snapshot or table.snapshot()
    rows = [
        (
            f["path"],
            int(f["bucket"]),
            f.get("kind", "base"),
            int(f["schema_id"]),
            int(f["rows"]) if f.get("rows") is not None else None,
            f.get("kmin"),
            f.get("kmax"),
        )
        for f in snap.files
    ]
    return table.spark.createDataFrame(rows, _FILES_DDL)


def snapshots_df(table: LakeTable) -> DataFrame:
    """One row per RETAINED snapshot (expired versions are gone by design):
    lineage pointer, schema id, file/row counts, and the applied batch ids
    that carry the exactly-once bookkeeping."""
    rows = []
    for v in sorted(table.history()):
        s = table.snapshot(v)
        rows.append(
            (
                int(s.version),
                int(s.parent) if s.parent is not None else None,
                int(s.schema_id),
                len(s.files),
                sum(1 for f in s.files if f.get("kind") == "delta"),
                sum(int(f["rows"]) for f in s.files if f.get("rows") is not None),
                len({f["bucket"] for f in s.files}),
                s.applied_batches(),
            )
        )
    return table.spark.createDataFrame(rows, _SNAPSHOTS_DDL)


def tags_df(table: LakeTable) -> DataFrame:
    rows = sorted(table.tags().items())
    return table.spark.createDataFrame(rows, "name string, version int")


def refs_df(table: LakeTable) -> DataFrame:
    """All refs: main + branches (writable) + tags (immutable)."""
    rows = [("main", "branch", table.checkout("main").current_version())]
    rows += [(n, "branch", v) for n, v in sorted(table.branches().items())]
    rows += [(n, "tag", v) for n, v in sorted(table.tags().items())]
    return table.spark.createDataFrame(
        rows, "name string, kind string, version int"
    )


def partition_stats(table: LakeTable, snapshot: Snapshot | None = None) -> DataFrame:
    """Per-bucket rollup of the files table — the skew dashboard: row and
    file counts per bucket straight from manifest stats."""
    return (
        files_df(table, snapshot)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("rows").alias("rows"),
            F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0)).alias(
                "n_delta_files"
            ),
        )
    )


_PROBLEMS_DDL = "check string, severity string, detail string"


def verify_table(
    table: LakeTable, snapshot: Snapshot | None = None, deep: bool = False
) -> DataFrame:
    """Table integrity check (Iceberg `verify` / Delta fsck analog): returns
    a problems DataFrame (check, severity, detail); EMPTY means healthy.

    Checks, by cost tier:

      metadata (ONE recursive listing through the FS seam + O(retained
      versions) version-file reads — never a per-directory crawl):
        * missing_file — a manifest-referenced data file is gone
        * watermark_regression — a snapshot's per-partition high-watermark
          moved backwards vs its parent (breaks exactly-once replay)
      scan (one DISTRIBUTED job reading ONLY the key column of every
      referenced file — parquet column pruning keeps it narrow):
        * row_count_mismatch — parquet rows != manifest rows (torn write,
          out-of-band file replacement)
        * bucket_misplacement — rows whose pmod(murmur3(key), n) routes to a
          different bucket than their file's (corrupts lookup pruning and
          merge co-partitioning)
      deep=True additionally:
        * duplicate_live_key — the LWW-resolved read yields >1 row per key
          (engine invariant; catches resolution regressions)

    File identity for the scan join uses the part-file BASENAME, which
    embeds the write job's UUID — unique per file by construction.
    """
    import os

    from .table import bucket_expr, read_parquet_files

    snap = snapshot or table.snapshot()
    fs = table.fs
    key = table.meta()["key"]
    nb = int(snap.summary.get("buckets") or table.meta()["buckets"])
    problems: list[tuple[str, str, str]] = []

    data_root = os.path.join(table.root, "data")
    present: set[str] = set()
    if fs.exists(data_root):
        prefix = data_root.rstrip("/") + "/"
        for p in fs.list_files_recursive(data_root):
            rel = p[len(prefix):] if p.startswith(prefix) else \
                p.split("/data/", 1)[-1]
            present.add(f"data/{rel}")
    missing = [f for f in snap.files if f["path"] not in present]
    for f in missing:
        problems.append(
            ("missing_file", "error", f"{f['path']} (bucket {f['bucket']})")
        )

    # watermark monotonicity along the retained ancestor chain
    child = snap
    while child.parent is not None:
        try:
            parent = table.snapshot(child.parent)
        except Exception:
            break  # expired ancestor — chain ends here by design
        cw = child.summary.get("watermarks") or {}
        pw = parent.summary.get("watermarks") or {}
        for part, hi in pw.items():
            # the engine's watermark merge is monotone and never drops a
            # partition — a lower OR missing entry in the child is damage
            if cw.get(part) is None or cw[part] < hi:
                problems.append((
                    "watermark_regression", "error",
                    f"v{child.version} part {part}: {cw.get(part)} < "
                    f"parent v{parent.version}'s {hi}",
                ))
        child = parent

    out = table.spark.createDataFrame(problems or [], _PROBLEMS_DDL)

    checkable = [
        f for f in snap.files if f["path"] not in {m["path"] for m in missing}
    ]
    if checkable:
        # key type from the snapshot's schema json — NOT from a read() plan,
        # which would analyze (and fail on) the very files found missing
        ktype = next(
            f["type"]
            for f in snap.schemas[str(snap.schema_id)]
            if f["name"] == key
        )
        paths = [os.path.join(table.root, f["path"]) for f in checkable]
        meta = table.spark.createDataFrame(
            [
                (
                    os.path.basename(f["path"]),
                    int(f["bucket"]),
                    int(f["rows"]) if f.get("rows") is not None else None,
                )
                for f in checkable
            ],
            "basename string, bucket int, rows_expected bigint",
        )
        scanned = (
            read_parquet_files(table.spark, f"`{key}` {ktype}", paths)
            .select(
                F.regexp_extract(F.input_file_name(), r"[^/]+$", 0
                                 ).alias("basename"),
                F.col(key).alias("_k"),
            )
        )
        per_file = scanned.join(F.broadcast(meta), "basename").groupBy(
            "basename", "bucket", "rows_expected"
        ).agg(
            F.count(F.lit(1)).alias("rows_actual"),
            F.sum(
                (bucket_expr("_k", nb) != F.col("bucket")).cast("bigint")
            ).alias("misplaced"),
        )
        bad = per_file.where(
            (
                F.col("rows_expected").isNotNull()
                & (F.col("rows_actual") != F.col("rows_expected"))
            )
            | (F.col("misplaced") > 0)
        )
        out = out.unionByName(
            bad.select(
                F.when(
                    F.col("rows_expected").isNotNull()
                    & (F.col("rows_actual") != F.col("rows_expected")),
                    F.lit("row_count_mismatch"),
                ).otherwise(F.lit("bucket_misplacement")).alias("check"),
                F.lit("error").alias("severity"),
                F.concat(
                    F.col("basename"), F.lit(": rows "),
                    F.col("rows_actual"), F.lit(" vs manifest "),
                    F.coalesce(F.col("rows_expected").cast("string"),
                               F.lit("n/a")),
                    F.lit(", misplaced "), F.col("misplaced"),
                ).alias("detail"),
            )
        )

    if deep and not missing:  # a resolved read cannot analyze missing files
        dups = (
            table.read(snapshot=snap)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
        )
        out = out.unionByName(
            dups.select(
                F.lit("duplicate_live_key").alias("check"),
                F.lit("error").alias("severity"),
                F.concat(
                    F.col(key).cast("string"), F.lit(" x "), F.col("n")
                ).alias("detail"),
            )
        )
    return out
