"""Vectorized change-event parsing (Arrow batches — never per-row Python).

Replaces the reference's per-record transformer chain executed inside the reader
thread (``core/.../exchanger/TransformerExchanger.java:53-127``) and its
``dx_groovy`` escape hatch (``GroovyTransformer.java:17-91``) — which evaluate
one Java object tree per row — with a columnar kernel over whole Arrow record
batches: the payload column's underlying buffers (validity bitmap, offsets,
byte data) are reinterpreted directly as the token ListArray's buffers. Per
batch the only data copy is the big-endian -> native int32 byteswap; offsets
are a vectorized divide-by-4 and the validity bitmap is reused as-is.

At 100 TB this is the only Python in the hot path; everything around it
(filter, dedup, join, write) stays in whole-stage-codegen'd JVM operators.
The replay engine additionally runs this *after* LWW dedup, so only the one
surviving event per key is ever decoded — at a 10:1 update ratio that is 10x
less Python work than decode-then-dedup.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

TOKEN_TYPE = pa.list_(pa.int32())


def decode_payload_array(arr: pa.Array) -> pa.Array:
    """binary payload Array -> list<int32> tokens Array, buffer-level.

    payload layout: concatenated big-endian int32s (the classic binlog/WAL
    fixed-width cell). null payload -> null list (delete events carry none).
    """
    n = len(arr)
    if n == 0:
        return pa.array([], type=TOKEN_TYPE)
    if arr.offset != 0:
        # sliced array: compact first so buffer math starts at zero. Rare —
        # Spark ships mapInArrow batches unsliced; correctness fallback only.
        arr = pa.concat_arrays([arr.slice(0, n)])
    if isinstance(arr, pa.LargeBinaryArray):
        off_dtype, off_width = np.int64, 8
    else:
        off_dtype, off_width = np.int32, 4
    validity, off_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(off_buf, dtype=off_dtype, count=n + 1)
    base = offsets[0]
    if data_buf is None or offsets[-1] == base:
        values = pa.array([], type=pa.int32())
        tok_offsets = np.zeros(n + 1, dtype=np.int32)
    else:
        raw = np.frombuffer(data_buf, dtype=np.uint8, count=int(offsets[-1]))[
            int(base):
        ]
        # the single copy: big-endian -> native int32
        values = pa.array(raw.view(">i4").astype(np.int32, copy=True))
        tok_offsets = ((offsets - base) // 4).astype(np.int32)
    return pa.Array.from_buffers(
        TOKEN_TYPE,
        n,
        [validity, pa.py_buffer(tok_offsets.tobytes())],
        null_count=arr.null_count,
        children=[values],
    )


def parse_events(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Raw changelog (payload: binary) -> typed changelog (tokens: array<int>),
    tokens replacing payload positionally; all other columns pass through the
    Arrow batch untouched (no serialization churn on them either).

    n_tok is validated upstream by the quarantine split directly on the raw
    payload byte length (reference dirty-record policy, ``StdoutPluginCollector``
    call sites e.g. ``CommonRdbmsReader.java:344``) — never silently fixed here.
    """
    in_fields = raw.schema.fields
    idx = [f.name for f in in_fields].index(payload_col)
    out_ddl = ", ".join(
        f"tokens array<int>" if i == idx else f"`{f.name}` {f.dataType.simpleString()}"
        for i, f in enumerate(in_fields)
    )

    def decode_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            cols = rb.columns
            tokens = decode_payload_array(cols[idx])
            names = rb.schema.names
            yield pa.RecordBatch.from_arrays(
                [tokens if i == idx else c for i, c in enumerate(cols)],
                ["tokens" if i == idx else names[i] for i in range(len(cols))],
            )

    return raw.mapInArrow(decode_batches, out_ddl)


@pandas_udf(ArrayType(IntegerType()))
def decode_tokens(payload: pd.Series) -> pd.Series:
    """Scalar pandas_udf form of the same decode: the replay engine's decode
    of the LWW winners, placed inside the projection so it rides the stage
    of the winner prune (mapInArrow's whole-batch signature cannot sit in a
    projection). Vectorized via one Arrow round-trip."""
    arr = pa.Array.from_pandas(payload, type=pa.binary())
    return decode_payload_array(arr).to_pandas()
