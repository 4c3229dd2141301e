"""Sequence packing: concat-and-chunk pre-tokenized documents into fixed-length
training windows (the standard GPT-style pretraining packing — concatenate every
document's token stream in a deterministic order, then cut the stream into
windows of exactly ``window`` tokens).

This is the terminal operator of the tokens pipeline this engine ingests for
(north rule: "Iceberg tables of pre-tokenized training sequences"): the lake
table holds (doc_id, tokens, n_tok, source) rows; a training job wants
fixed-length context windows. The reference connector stops at row delivery
(its Record stream, ``TaskGroupContainer.java`` plumbing); packing is the
value-add a training-data pipeline needs on top.

Scale design (how this avoids the two naive traps):

  * NO global sort. Packing needs a total order; a single global stream is a
    1-task scan at 100 TB. We pack per ``part_col`` stream (``source`` by
    default): the window prefix-sum partitions by source, so each source's
    stream packs independently and in parallel. A source so large that even
    its own stream is a bottleneck gets split further by the caller (pack per
    (source, shard) with a deterministic shard = hash(doc_id) % k — same
    semantics, k independent streams).
  * NO token-level explode. A doc spanning chunks [c0..c1] emits one row PER
    CHUNK it overlaps (``sequence(first_chunk, last_chunk)``) carrying the
    array SLICE that lands in that chunk — the shuffle moves each token value
    exactly once, inside an array cell, never as a row. groupBy(chunk) then
    stitches slices back in stream order (array_sort on the carried offset).

Everything is expression-only (sequence/slice/aggregate inside whole-stage
codegen + one hash shuffle on (part, chunk)); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# assemble_bins' default bound on one pack_bins pandas group. Measured peak
# Python-worker memory of one group (Arrow batch + pandas frame + the pack
# arrays, 16-char string ids): ~330 B/doc, so 10^6 docs ~320 MiB per
# concurrently packing worker. Sources at or below it pack as one stream
# (output identical to an unbounded run); larger ones split into
# ceil(docs / bound) sub-streams.
BINS_MAX_DOCS_PER_STREAM = 1_000_000


def pack_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    order_col: str = "doc_id",
    part_col: str = "source",
    window: int = 128,
    drop_last: bool = False,
) -> DataFrame:
    """Pack ``tokens_col`` arrays into fixed-``window`` chunks per ``part_col``
    stream, concatenating docs in ``order_col`` order.

    Returns one row per (part, chunk): part_col, chunk_id (0-based within the
    part's stream), tokens (exactly ``window`` values except the stream's tail
    chunk), n_tok, n_docs (documents contributing at least one token).

    ``drop_last``: drop the tail chunk when it is shorter than ``window``
    (training jobs usually do; default keeps it so nothing is silently lost).
    """
    W = window
    n = F.size(F.col(tokens_col))
    w = Window.partitionBy(part_col).orderBy(order_col)
    sized = (
        df.select(part_col, order_col, tokens_col)
        .where(n > 0)
        .withColumn("_n", n)
        .withColumn("_off", F.sum("_n").over(w) - F.col("_n"))
    )
    # one row per chunk the doc overlaps, carrying only that chunk's slice
    spans = sized.select(
        part_col,
        F.col("_off"),
        F.explode(
            F.sequence(
                F.floor(F.col("_off") / W),
                F.floor((F.col("_off") + F.col("_n") - 1) / W),
            )
        ).alias("chunk_id"),
        F.col("_n"),
        F.col(tokens_col),
    )
    start = F.greatest(F.col("chunk_id") * W - F.col("_off"), F.lit(0))
    length = (
        F.least((F.col("chunk_id") + 1) * W - F.col("_off"), F.col("_n")) - start
    )
    pieces = spans.select(
        part_col,
        "chunk_id",
        F.col("_off"),
        F.slice(F.col(tokens_col), (start + 1).cast("int"), length.cast("int")).alias(
            "_piece"
        ),
    )
    out = (
        pieces.groupBy(part_col, "chunk_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_off", "_piece"))),
                    lambda s: s["_piece"],
                )
            ).alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("chunk_id", F.col("chunk_id").cast("bigint"))
        .select(part_col, "chunk_id", "tokens", "n_tok", "n_docs")
    )
    if drop_last:
        out = out.where(F.col("n_tok") == W)
    return out


def shard_shuffle(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    hash_expr=None,
) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` training shards: every
    row gets a ``shard`` in [0, n_shards) and a 0-based ``pos`` within its
    shard, both pure functions of the row key — re-runs produce byte-identical
    shard files (the property a resumable export needs; ``orderBy(rand())``
    breaks idempotent retry and is NOT a global shuffle fix either).

    Shard = hash(key) % n_shards (uniform balance); within-shard order = the
    hash itself (key tie-break), so consecutive input rows scatter across
    shards AND across positions — the decorrelation a training loader wants.

    Scale: one hash shuffle on ``shard``; each shard's row_number is a single
    sorted task, so pick n_shards ≥ cluster parallelism (training exports
    want thousands of shard files anyway, which also bounds per-task size).
    """
    from pyspark.sql import Window as W

    if hash_expr is None:
        hash_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(2**40))
    w = W.partitionBy("shard").orderBy("_h", key_col)
    return (
        df.withColumn("_h", hash_expr)
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("_h")
    )


def sample_mixture(
    df: DataFrame,
    weights: dict[str, float],
    part_col: str = "source",
    key_col: str = "doc_id",
    hash_expr=None,
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic per-source downsampling to target mixture weights.

    ``weights`` maps a ``part_col`` value to a keep-fraction in [0, 1]; rows
    from unlisted sources keep ``default_weight``. Selection is a pure
    function of the row key (hash threshold), so re-runs, retries and
    incremental batches select the SAME rows — the property a resumable
    pipeline needs (a rand() sampler breaks idempotent replay).

    ``hash_expr``: column expression mapping the key to [0, 1_000_000).
    Default is ``pmod(xxhash64(key), 1e6)`` — uniform and cheap (JVM-side).
    Scale: a map-only filter; no shuffle, predicate stays in scan codegen.
    """
    if hash_expr is None:
        hash_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(1_000_000))
    thresh = F.lit(int(default_weight * 1_000_000))
    for src, frac in sorted(weights.items()):
        thresh = F.when(
            F.col(part_col) == src, F.lit(int(frac * 1_000_000))
        ).otherwise(thresh)
    return df.where(hash_expr < thresh)


def pack_bins(
    df: DataFrame,
    window: int,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    part_col: str = "source",
    order_col: str | None = None,
    max_docs_per_stream: int | None = None,
) -> DataFrame:
    """Greedy NO-SPLIT bin packing of whole documents into fixed-capacity
    training bins — the "fewer truncations" recipe (Ding et al. 2024; the
    packing used when cross-document attention is allowed but document
    SPLITTING is not, e.g. SFT): walk each ``part_col`` stream in
    ``order_col`` order keeping a running fill; a document joins the current
    bin iff it fits, else the bin closes and the document starts the next
    one. Only documents LONGER than the window truncate (to ``window``,
    flagged) — `pack_sequences` by contrast splits every boundary document.

    Output: one row per document — (part_col, bin_id, id_col, off, take,
    truncated); ``off`` is the document's start position inside its bin,
    ``take`` = min(len, window) the tokens it contributes. Assignment-only
    by design: the caller assembles token arrays with a
    (part, bin)-grouped slice+flatten when it materializes shards, and the
    assignment table is what the correctness oracle compares.

    The recurrence (fill' = fill+take if it fits else take) is inherently
    sequential per stream — no window function expresses it — so this is
    one of the few justified ``applyInPandas`` ops: one group per source
    stream, carrying ONLY (id, len) columns through Arrow. Inside the
    group it is NOT a per-row Python loop: the bin-break recurrence
    collapses to a jump function over the take-cumsum — next bin start =
    searchsorted(C, bin_base + window) — so per-DOC work is vectorized
    numpy; the only Python loop walks bin STARTS (total_tokens/window
    iterations, ~50 ns each). Sequential-per-source is also the published
    implementations' shape; distinct sources pack in parallel.

    ``max_docs_per_stream``: bound on ONE pandas group's size, the knob that
    makes this survive 100 TB. With few huge sources, one group would hold a
    whole source's (id, len) stream — tens of GB at 10^9 docs/source, an
    executor OOM and at best #sources-way parallelism. Setting the bound
    splits each source into k = ceil(docs/max) independent sub-streams
    (deterministic hash(id) % k — the published "fewer truncations" recipes
    pack per shard anyway), each packed greedily in ``order_col`` order;
    bins never cross sub-streams, the same guarantee the per-source contract
    already gives. Group memory is O(max_docs_per_stream) and parallelism is
    O(total_docs / max_docs_per_stream), independent of the source count.
    ``bin_id`` stays unique per source (local_bin * k + sub-stream).
    Default None = one stream per source (small/medium sources, exact
    single-stream greedy order).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if max_docs_per_stream is not None and max_docs_per_stream < 1:
        raise ValueError("max_docs_per_stream must be >= 1")
    order = order_col or id_col
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    id_field = df.schema[id_col]
    part_field = df.schema[part_col]
    out_schema = (
        f"{part_col} {part_field.dataType.simpleString()}, "
        f"bin_id bigint, "
        f"{id_col} {id_field.dataType.simpleString()}, "
        f"off bigint, take int, truncated boolean"
    )

    slim = df.select(part_col, id_col, len_col, *(
        [order] if order not in (part_col, id_col, len_col) else []
    ))
    if max_docs_per_stream is None:
        streams: dict = {}
        slim = slim.withColumn("_stream", F.lit(0).cast("bigint"))
    else:
        # one bounded count per source (O(#sources) driver rows) sizes the
        # sub-stream fan-out; the split itself is a map-side hash — no sort,
        # no quantile sketch, deterministic across runs and partitionings
        counts = {
            r[0]: r[1]
            for r in slim.groupBy(part_col).count().collect()
        }
        streams = {
            p: -(-c // max_docs_per_stream) for p, c in counts.items()
        }
        split = sorted((p, k) for p, k in streams.items()
                       if p is not None and k > 1)
        # a part value missing from the counts (an upstream that changed
        # between the count and the pack) packs as ONE stream, not NULL;
        # map keys cannot be NULL, so a NULL part gets its own branch
        k_of = F.lit(1)
        if split:
            k_map = F.create_map(
                *[F.lit(x) for p, k in split for x in (p, k)]
            )
            k_of = F.coalesce(k_map[F.col(part_col)], k_of)
        if streams.get(None, 1) > 1:
            k_of = F.when(
                F.col(part_col).isNull(), F.lit(streams[None])
            ).otherwise(k_of)
        slim = slim.withColumn(
            "_stream",
            F.pmod(F.xxhash64(F.col(id_col)), k_of).cast("bigint"),
        )

    def pack(key, pdf):
        import numpy as np

        k = streams.get(key[0], 1)
        stream = int(key[1] or 0)
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        lens = pdf[len_col].to_numpy("int64")
        take = np.minimum(lens, window)
        c = np.cumsum(take)
        prev = np.concatenate(([0], c[:-1]))
        starts = []
        i, base = 0, 0
        while i < n:
            starts.append(i)
            j = int(np.searchsorted(c, base + window, side="right"))
            j = max(j, i + 1)  # safety; take <= window guarantees j > i
            base = c[j - 1]
            i = j
        sarr = np.asarray(starts, dtype="int64")
        bins = np.searchsorted(sarr, np.arange(n), side="right") - 1
        off = prev - prev[sarr[bins]]
        out = pdf[[part_col, id_col]].copy()
        # unique per source across sub-streams; k=1 -> the plain local id
        out["bin_id"] = bins * k + stream
        out["off"] = off
        out["take"] = take.astype("int32")
        out["truncated"] = lens > window
        return out[
            [part_col, "bin_id", id_col, "off", "take", "truncated"]
        ]

    return slim.groupBy(part_col, "_stream").applyInPandas(pack, out_schema)


def assemble_bins(
    df: DataFrame,
    window: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    part_col: str = "source",
    order_col: str | None = None,
    max_docs_per_stream: int | None = BINS_MAX_DOCS_PER_STREAM,
) -> DataFrame:
    """Materialize `pack_bins`' assignment into actual training windows:
    one row per (part, bin) with the concatenated token array (each doc
    contributes its first ``take`` tokens at offset ``off``), its length,
    and the number of documents packed in.

    Plan shape: the assignment runs over (id, len) ONLY — token arrays
    never cross the Python boundary. Tokens rejoin JVM-side by (part, id)
    (one hash join, null-safe on the part), each doc's contribution is an
    expression-level ``slice``, and ONE (part, bin) hash-aggregate collects
    (off, slice) structs, sorts by offset, and flattens — `off` is part of
    the collected struct precisely so the aggregate needs no
    order-sensitive input (collect_list order is nondeterministic under
    retries; array_sort restores it deterministically).

    ``max_docs_per_stream`` defaults to ``BINS_MAX_DOCS_PER_STREAM``, so one
    pandas group stays bounded for any source size; sources at or below it
    pack exactly as with None (one stream). The bound costs one per-source
    count job when the plan is built.
    """
    asg = pack_bins(
        df, window, id_col=id_col, len_col=len_col,
        part_col=part_col, order_col=order_col,
        max_docs_per_stream=max_docs_per_stream,
    )
    toks = df.select(
        F.col(part_col).alias("_tpart"), F.col(id_col).alias("_tid"),
        tokens_col,
    )
    joined = asg.join(
        toks,
        asg[part_col].eqNullSafe(toks["_tpart"])
        & (asg[id_col] == toks["_tid"]),
    ).select(
        asg[part_col],
        "bin_id",
        F.struct(
            F.col("off"),
            F.slice(F.col(tokens_col), 1, F.col("take")).alias("toks"),
        ).alias("piece"),
    )
    return (
        joined.groupBy(part_col, "bin_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("piece")),
                    lambda p: p["toks"],
                )
            ).alias(tokens_col),
            F.count(F.lit(1)).cast("int").alias("n_docs"),
        )
        .withColumn("n_tok", F.size(tokens_col).cast("int"))
        .select(part_col, "bin_id", tokens_col, "n_tok", "n_docs")
    )
