"""Structured Streaming SOURCE over the lake change-data-feed: tail a table's
committed changes as a stream — ``spark.readStream.format("lake_cdf")`` — via
the PySpark 4 Python Data Source API (SPARK-44076).

This closes the consumer side of the CDC loop natively: batch consumers use
``LakeTable.changes()`` / ``lake.sync.sync_table``; a continuous downstream
(another table, a cache, a search index) tails the SAME contract as a stream.
Delta/Iceberg expose the identical surface (``readStream.format("delta")``,
Iceberg's ``stream-from-timestamp``); the reference connector has no consumer
side at all — its sink is terminal (SURVEY §2.5 W1, ``StreamWriter`` plugins).

Architecture (why a Python data source is the right construct here):

  * OFFSETS are snapshot versions — already totally ordered, already durable,
    already atomic (the ``_current`` pointer swap). ``latestOffset`` is one
    pointer read; no listing, no scan.
  * PLANNING runs in Spark's dedicated Python runner process on the driver —
    there is NO SparkSession there, so the reader walks snapshot/manifest
    JSON through the same metadata layout ``LakeTable`` owns (handle built
    with ``spark=None``; metadata ops never touch Spark).
  * PARTITIONS come from ``LakeTable.change_plan``, the plan
    ``LakeTable.changes()`` reads too, one partition per (commit, bucket):
    merge-on-read delta commits stream VERBATIM (their files ARE the change
    set, O(changes)); copy-on-write commits ship the bucket's parent file
    list too, and the executor anti-joins (key, _lsn, _seq) in Arrow —
    bucket-local and exact, because both sides hash to the same bucket.
    Compaction/rebucket commits are physical rewrites and are skipped.
    Each file's column alignment is ``lake.table.column_plan``, computed at
    plan time.
  * READ is pyarrow-only on executors (no JVM round trips): read the parquet
    file(s), apply the column plan (rename-resolve / cast / null-fill) with
    the Arrow types Spark's own data-source worker maps the stream schema
    to (``to_arrow_schema``), filter carried-over rows, emit RecordBatches.

A columnwise table (resolution ``partial`` / ``aggregate``) is refused when
the stream is opened: its delta files hold partial images, which a
downstream LWW apply would read as "NULL = overwrite". Its batch feed,
``LakeTable.changes()``, emits resolved full images.

The stream's schema is pinned at stream start (Spark streaming queries cannot
change schema mid-query — same restriction as Delta/Iceberg streaming reads).
Columns renamed AFTER the pinned schema raise a clear restart-the-stream
error rather than mis-mapping. Exactly-once: offsets are checkpointed by
Spark; version files are immutable, so replanning a micro-batch after a crash
yields byte-identical partitions.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..lake.fs import uri_scheme

_LINEAGE = [("_lsn", "bigint"), ("_seq", "bigint"), ("_deleted", "boolean")]


class _ArrowMetaFS:
    """Minimal read-only TableFS over pyarrow.fs for URI-rooted tables, used
    where the JVM-backed HadoopTableFS cannot exist (the stream-planning
    python process and executors). Metadata reads only."""

    def read_text(self, path: str) -> str:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        with fs.open_input_stream(p) as f:
            return f.read().decode("utf-8")


def _meta_table(root: str):
    """A metadata-only LakeTable handle (spark=None): snapshot/version/meta
    reads go through the FS seam and never touch Spark."""
    from ..lake.table import LakeTable

    fs = _ArrowMetaFS() if uri_scheme(root) else None
    return LakeTable(None, root, fs=fs)


def _read_parquet(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    if uri_scheme(path):
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        return pq.read_table(p, columns=columns, filesystem=fs)
    return pq.read_table(path, columns=columns)


class LakeCDFPartition(InputPartition):
    def __init__(self, value: dict):
        self.value = value


class LakeCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema):
        self.root = options.get("path") or options.get("root")
        if not self.root:
            raise ValueError("lake_cdf requires option 'path' (table root)")
        self._table = None
        t = self._tbl()
        snap = t.snapshot()
        sv = options.get("startingVersion", options.get("startingversion"))
        # default: tail only NEW commits (a CDC consumer's normal mode)
        self._start = int(sv) if sv is not None else snap.version
        self._target_sid = snap.schema_id
        self._fields = list(snap.schema().fields)
        self._key = t.meta()["key"]
        self._schema = schema  # the StructType Spark reads the batches as

    # the reader is pickled to executors for read(); the table handle is
    # driver-process state (metadata cache) and is rebuilt on demand
    def __getstate__(self):
        d = dict(self.__dict__)
        d["_table"] = None
        return d

    def _tbl(self):
        if self._table is None:
            self._table = _meta_table(self.root)
        return self._table

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": self._tbl().current_version()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from ..lake.table import column_plan

        t = self._tbl()
        try:
            plan = t.change_plan(start["version"], end["version"])
        except ValueError as e:
            raise ValueError(
                f"{e} (rolled back under a running stream?)"
            ) from None
        # the end snapshot's schemas: the accumulated superset, so rename
        # records registered after an intermediate commit still resolve
        schemas = t.snapshot(end["version"]).schemas
        key_at = [n for n, _ in self._fields].index(self._key)

        def cols(f: dict) -> list:
            return column_plan(
                self._fields, self._target_sid, f["schema_id"], schemas
            )

        def path(f: dict) -> str:
            return os.path.join(self.root, f["path"])

        parts: list[InputPartition] = []
        for s, new_files, parent_files in plan:
            for b in sorted({f["bucket"] for f in new_files}):
                parts.append(
                    LakeCDFPartition(
                        {
                            "version": s.version,
                            "new": [
                                {"path": path(f), "cols": cols(f)}
                                for f in new_files
                                if f["bucket"] == b
                            ],
                            "parent": [
                                {"path": path(f), "key": cols(f)[key_at][1]}
                                for f in parent_files
                                if f["bucket"] == b
                            ],
                        }
                    )
                )
        return parts

    def read(self, partition: LakeCDFPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        val = partition.value
        # the Arrow types Spark's data-source worker validates batches against
        arrow = to_arrow_schema(self._schema)

        def align(spec: dict):
            cols = list(spec["cols"]) + [(c, c, t) for c, t in _LINEAGE]
            raw = _read_parquet(spec["path"], sorted({s for _, s, _ in cols if s}))
            return pa.table(
                [
                    pc.cast(raw[src].combine_chunks(), arrow.field(tgt).type)
                    if src is not None
                    else pa.nulls(raw.num_rows, arrow.field(tgt).type)
                    for tgt, src, _ in cols
                ],
                names=[tgt for tgt, _, _ in cols],
            )

        out = pa.concat_tables([align(s) for s in val["new"]])

        def composite(tbl, key: str):
            return pc.binary_join_element_wise(
                *[
                    pc.cast(tbl[c].combine_chunks(), pa.string())
                    for c in (key, "_lsn", "_seq")
                ],
                "\x00",
            )

        if val["parent"] and out.num_rows:
            # keys stay Arrow end-to-end: is_in hashes the parent composite
            # keys (it dedups internally) — no per-key Python set
            seen = pa.concat_arrays(
                [
                    composite(
                        _read_parquet(p["path"], [p["key"], "_lsn", "_seq"]),
                        p["key"],
                    )
                    for p in val["parent"]
                ]
            )
            out = out.filter(
                pc.invert(pc.is_in(composite(out, self._key), value_set=seen))
            )
        if not out.num_rows:
            return iter(())
        out = out.append_column(
            "_commit_version",
            pa.array(
                [val["version"]] * out.num_rows, arrow.field("_commit_version").type
            ),
        )
        return iter(out.to_batches())

    def commit(self, end: dict) -> None:
        pass  # offsets are Spark-checkpointed; version files are immutable

    def stop(self) -> None:
        pass


class LakeChangeFeedDataSource(DataSource):
    """``spark.dataSource.register(LakeChangeFeedDataSource)`` then
    ``spark.readStream.format("lake_cdf").option("path", root).load()``.

    Options: ``path`` (table root, required), ``startingVersion`` (stream
    changes committed AFTER this version; default = the current version at
    stream start, i.e. only new commits). A columnwise table is refused
    here, when the stream is opened; read it with ``LakeTable.changes()``."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def schema(self) -> str:
        root = self.options.get("path") or self.options.get("root")
        if not root:
            raise ValueError("lake_cdf requires option 'path' (table root)")
        table = _meta_table(root)
        snap = table.snapshot()
        # an empty plan for any lww table; raises for a columnwise one
        table.change_plan(snap.version, snap.version)
        fields = list(snap.schema().fields)
        fields += _LINEAGE + [("_commit_version", "int")]
        return ", ".join(f"{n} {t}" for n, t in fields)

    def streamReader(self, schema) -> LakeCDFStreamReader:
        return LakeCDFStreamReader(dict(self.options), schema)


def read_change_stream(spark, root: str, starting_version: int | None = None):
    """Register the source (idempotent) and open the change stream."""
    try:
        spark.dataSource.register(LakeChangeFeedDataSource)
    except Exception:
        pass  # already registered
    r = spark.readStream.format("lake_cdf").option("path", root)
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    return r.load()
