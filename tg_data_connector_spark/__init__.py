"""tg_data_connector_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of TigerGraph-DevLabs/TG-Data-Connector (an Alibaba
DataX 3.0 fork: config-driven reader -> transformer chain -> batched writer) as an
idiomatic Spark DataFrame pipeline:

  changelog tail (I/U/D/S events) -> vectorized parse (Arrow pandas_udf)
  -> quarantine split (dirty-record policy, DataX ErrorRecordChecker semantics)
  -> LWW dedup on (commit_lsn, seq_no) (winner prune before the shuffle)
  -> MERGE upsert into a snapshot-versioned bucketed lake table
  -> idempotent two-phase commit carrying per-partition high-watermarks.

No code is ported from the reference; file:line citations in docstrings point at the
reference behavior each component preserves.
"""

__version__ = "0.1.0"
