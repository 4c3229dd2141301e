"""Per-partition lineage + metrics (reference E5 parity).

The reference rolls per-task Communication counters up task -> taskGroup -> job
every 10 s (``CommunicationTool.java:15-111``, ``TaskGroupContainer.java:253-266``)
and logs a final records/s line (``JobContainer.logStatistics``). Here every
applied batch contributes one lineage row PER SOURCE PARTITION:

  (run_id, batch_id, part, hwm, events, dirty, snapshot_version, seconds)

``dirty`` is NULL (unknown) for a part whose dirty rows were not counted
separately: the engine counts per part only up to 64 parts per batch.

Rows buffer in the driver and flush to ``<table_root>/_lineage`` (parquet,
append) once per replay invocation and once per streaming micro-batch, as a
driver-side pyarrow write — observability never adds a per-batch Spark job.
The snapshot summary independently carries the authoritative watermarks;
lineage is the audit trail (which batch moved which partition to which
offset, at what rate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

LINEAGE_SCHEMA = (
    "run_id string, batch_id string, part int, hwm bigint, events bigint, "
    "dirty bigint, snapshot_version bigint, seconds double"
)


class LineageLog:
    def __init__(self, table_root: str):
        self.dir = f"{table_root}/_lineage"
        self.rows: list[tuple] = []

    def record_batch(
        self,
        run_id: str,
        batch_id: str,
        per_part: dict[int, dict],
        snapshot_version: int,
        seconds: float,
    ) -> None:
        for part, m in per_part.items():
            self.rows.append(
                (
                    run_id,
                    batch_id,
                    int(part),
                    int(m.get("hwm", -1)),
                    int(m.get("events", 0)),
                    None if m.get("dirty") is None else int(m["dirty"]),
                    int(snapshot_version),
                    float(seconds),
                )
            )

    def flush(self, spark: SparkSession | None = None) -> int:
        """Driver-side pyarrow append — lineage is bounded metadata (one row
        per batch x source-partition), and a Spark job for it measured ~4 s of
        pure fixed cost per replay (single-task stage: session scheduling +
        one-file commit protocol). URI-rooted tables (file://, hdfs://, s3://)
        resolve through pyarrow's FileSystem; a scheme pyarrow can't reach
        falls back to one Spark append (the ``spark`` arg), trading the fixed
        cost for reachability."""
        if not self.rows:
            return 0
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        n = len(self.rows)
        cols = list(zip(*self.rows))
        types = [
            pa.string(), pa.string(), pa.int32(), pa.int64(),
            pa.int64(), pa.int64(), pa.int64(), pa.float64(),
        ]
        names = [f.split()[0] for f in LINEAGE_SCHEMA.split(", ")]
        tbl = pa.table(
            {nm: pa.array(c, type=t) for nm, c, t in zip(names, cols, types)}
        )
        fname = f"lineage-{uuid.uuid4().hex}.parquet"
        try:
            from pyarrow import fs as pafs

            from ..lake.fs import local_path, uri_scheme

            # RFC-3986 scheme match, not a '"://" in path' substring test:
            # Hadoop canonicalizes URIs to the single-slash form
            # (file:/tmp/t), which the substring test misroutes to a
            # RELATIVE local path under CWD
            scheme = uri_scheme(self.dir)
            if scheme in (None, "file"):
                fsys, path = pafs.LocalFileSystem(), local_path(self.dir)
            else:
                fsys, path = pafs.FileSystem.from_uri(self.dir)
            fsys.create_dir(path, recursive=True)
            # dot-prefixed temp, then rename into place: Spark/parquet readers
            # skip hidden files, so a write torn mid-stream (quota, transient
            # FS error) never corrupts a later lineage read — and the Spark
            # fallback below can append safely next to the leftover temp
            tmp = f"{path}/.{fname}.tmp"
            with fsys.open_output_stream(tmp) as out:
                pq.write_table(tbl, out)
            fsys.move(tmp, f"{path}/{fname}")
        except (pa.ArrowException, OSError):
            if spark is None:
                raise
            spark.createDataFrame(self.rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.dir)
        self.rows = []
        return n

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.dir)
