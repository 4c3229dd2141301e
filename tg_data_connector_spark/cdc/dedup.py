"""Last-writer-wins dedup: reduce a change batch to ONE row per key.

The reference has no aggregation operator at all (SURVEY §2.7); its upsert relies
on the destination DB resolving duplicate keys row-by-row in arrival order
(``WriterUtil.java:148-168``). For a deterministic, retry-safe MERGE the batch
must be reduced to the single newest event per key *before* the join — Iceberg's
MERGE has the same one-source-row-per-key cardinality rule.

Three physical kernels, same semantics; the replay engine uses the first:

  * ``winner_filter``   — the replay engine's LWW dedup: a narrow hash-aggregate
    of each key's max packed version joins back to the batch and prunes the
    losers before any payload-wide shuffle (``winner_versions`` builds the
    aggregate; the engine picks the broadcast or shuffled-hash join).
  * ``lww_dedup``       — single ``groupBy(key).agg(max_by(payload, version))``:
    one shuffle, map-side partial aggregation for free (Spark plans
    ``partial_max_by -> exchange -> final_max_by``). Used by ``lake/sync.py``
    and the dedup gates.
  * ``lww_dedup_salted``— explicit two-phase for pathologically hot keys: first
    ``groupBy(key, salt)`` (salt = hash of the version pair, so a hot key's
    events spread over S reducers), then ``groupBy(key)`` over the S partials.
    This is the north rule's "explicit salting of hot sources", kept as an
    operator (gate ``cdc_salted_skew_dedup``), not as an engine option.

Salting vs plain ``max_by`` (measured, see BENCH notes in BASELINE.md):
``max_by`` is an algebraic aggregate, so Spark always plans
``partial_max_by -> exchange -> final_max_by``: a key receiving millions of
updates collapses to ONE partial row per map task before the shuffle — the
reducer for a hot key sees at most |map tasks| rows, not |events|. Salting on
top of that *multiplies group count by S* (with many distinct keys the phase-1
aggregation stops reducing at all: measured 2.59M events -> 2.09M "partials" at
525k keys x 16 salts) and adds a second full shuffle. Salting pays off only
when the per-map-task partial state itself can't absorb the hot key — i.e.
collect-type aggregates, not max_by. The salted path is kept for that shape
and for skew injected upstream of any aggregation (e.g. a hot `source` feeding
a non-algebraic kernel).

``max_by(struct(everything), struct(commit_lsn, seq_no))`` gives lexicographic
LWW. Exact duplicate deliveries (same version pair) collapse to one row by
construction — max_by of equal versions returns one of identical payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VERSION_COLS = ("commit_lsn", "seq_no")

# Order-preserving scalar encoding of the (commit_lsn, seq_no) pair:
# lsn * 2^63 + seq as DECIMAL(38,0). Contract: seq_no in [0, 2^63) — true for
# every real CDC source (statement index within a transaction) and asserted by
# the generator. Why not max(struct(lsn, seq)): a struct aggregation buffer is
# not mutable-fixed-width, so Spark falls back to SortAggregate (two full
# sorts); the decimal max keeps the whole-stage-codegen'd HashAggregate with
# map-side partial combine (measured in /tmp plan probe; see BASELINE.md).
PACK_MULT = 2**63


def version_pack(lsn_max: int | None = None, seq_max: int | None = None):
    """Pick the cheapest exact encoding the caller's bounds allow: when the
    batch's (max lsn, max seq) — known exactly from the replay prepass stats —
    fit together in 63 bits, pack into a plain BIGINT (primitive codegen'd
    max); otherwise fall back to the always-correct decimal(38,0) encoding
    (16-byte buffer, measurably slower per row)."""
    if (
        lsn_max is not None
        and seq_max is not None
        and lsn_max >= 0
        and seq_max >= 0
    ):
        s = max(1, int(seq_max).bit_length())
        if s <= 62 and (int(lsn_max) >> (62 - s)) == 0:
            # lsn < 2^(62-s) and seq < 2^s: product+sum < 2^63, no overflow
            return (
                F.col("commit_lsn") * F.lit(1 << s) + F.col("seq_no")
            ).cast("bigint")
    from decimal import Decimal

    # Decimal literal: 2^63 exceeds the Java long that F.lit(int) rides on
    mult = F.lit(Decimal(PACK_MULT)).cast("decimal(38,0)")
    return F.col("commit_lsn").cast("decimal(38,0)") * mult + F.col("seq_no")


def winner_versions(
    df: DataFrame,
    key: str = "doc_id",
    lsn_max: int | None = None,
    seq_max: int | None = None,
) -> DataFrame:
    """Each key's winning packed version, as ``(key, _vmax)`` rows: one
    narrow hash-aggregate over (key, lsn, seq) — column pruning keeps the
    payload out of its scan. ``lsn_max``/``seq_max`` pick the packing (see
    ``version_pack``) and must match the ``winner_filter`` call."""
    return df.groupBy(key).agg(
        F.max(version_pack(lsn_max, seq_max)).alias("_vmax")
    )


def winner_filter(
    df: DataFrame,
    key: str = "doc_id",
    broadcast: bool = True,
    lsn_max: int | None = None,
    seq_max: int | None = None,
    winners: DataFrame | None = None,
):
    """Filter a change batch to the rows carrying their key's MAX version —
    entirely JVM-side, no Python, no payload-wide shuffle.

    The ``winner_versions`` aggregate (~|keys| rows) joins back against the
    batch as the SMALL side. ``broadcast=True`` ships it to every task, so
    losers are pruned before ANY shuffle (winners:events is ~1:10 at
    CDC-typical update ratios); ``broadcast=False`` takes a shuffled-hash join
    instead, for winner sets too large to build on the driver. The replay
    engine chooses between them from a known bound on the winner count
    (``cdc.replay.BROADCAST_WINNERS_MAX_KEYS``).

    ``winners``: the precomputed ``winner_versions`` of a logically identical
    frame. Callers that filter an already-shuffled df pass the aggregate of
    the pre-shuffle scan, so it runs off a column-pruned read instead of the
    wide exchange; the engine also passes the persisted aggregate it counted.

    Output may retain exact duplicate DELIVERIES of the winning event (same
    key, same version, identical payload by contract) — callers collapse those
    with a cheap per-key dedup over this winners-only stream.
    """
    if winners is None:
        winners = winner_versions(df, key, lsn_max, seq_max)
    if broadcast:
        winners = F.broadcast(winners)
    else:
        winners = winners.hint("shuffle_hash")
    pack = version_pack(lsn_max, seq_max)
    return df.join(winners, [key]).where(pack == F.col("_vmax")).drop("_vmax")


def _payload_struct(df: DataFrame, key: str):
    rest = [c for c in df.columns if c != key]
    return F.struct(*[F.col(c) for c in rest]), rest


def lww_dedup(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """One shuffle: groupBy(key) + max_by over the (commit_lsn, seq_no) order."""
    payload, rest = _payload_struct(df, key)
    version = F.struct(*[F.col(c) for c in VERSION_COLS])
    agg = df.groupBy(key).agg(F.max_by(payload, version).alias("_w"))
    return agg.select(key, *[F.col(f"_w.{c}").alias(c) for c in rest])


def lww_dedup_salted(
    df: DataFrame, key: str = "doc_id", salt_buckets: int = 16
) -> DataFrame:
    """Two-phase: (key, salt) partial max -> key final max. The salt derives from
    the version pair, not a RNG, so the plan is deterministic and retry-safe."""
    payload, rest = _payload_struct(df, key)
    version = F.struct(*[F.col(c) for c in VERSION_COLS])
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("commit_lsn"), F.col("seq_no")), F.lit(salt_buckets)),
    )
    partial = salted.groupBy(key, "_salt").agg(F.max_by(payload, version).alias("_w"))
    final = partial.groupBy(key).agg(
        F.max_by(
            F.col("_w"), F.struct(*[F.col(f"_w.{c}") for c in VERSION_COLS])
        ).alias("_w")
    )
    return final.select(key, *[F.col(f"_w.{c}").alias(c) for c in rest])


def partial_collapse(
    df: DataFrame,
    key: str = "doc_id",
    payload_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Collapse a change batch to ONE row per key under PARTIAL-UPDATE
    semantics (the Paimon partial-update / Mongo-$set / Cassandra-cell model):
    an UPDATE event sets only the columns it carries — a NULL column in a
    ``U`` after-image means "unchanged", not "set to NULL".

    Per-column resolution inside the batch (version order = (commit_lsn,
    seq_no) lexicographic):

      * a column's value is the one carried by the LATEST event that *sets*
        it — an event sets column c when c is non-null, or when the event is
        an INSERT (a full image: its NULLs are real NULLs, resetting c);
      * a DELETE resets every column: setters at or before the latest delete
        are dead (the per-column winner is kept only when its version exceeds
        the latest delete's version);
      * the collapsed row's ``op`` is ``D`` iff the key's winning event is a
        delete; its (commit_lsn, seq_no) is the winning event's version.

    The output carries two extra columns ``_rv_lsn/_rv_seq`` — the latest
    RESET version (max over D and I events, null when the batch holds only
    partial updates for the key). The MERGE uses it against the TARGET row's
    version: a reset newer than the target kills the target's column values;
    otherwise the merge coalesces per column (src value if set, else target's)
    — see ``lake/merge._merge_once(partial_update=True)``.

    Contract (same as the LWW kernels, plus): events arrive in LSN-ordered
    batch windows (the replay driver's offset windows guarantee it), so
    cross-batch composition of per-batch collapses equals the one-shot
    collapse over the concatenated log — pinned by
    ``tests/test_partial_update.py`` batch-split invariance.

    Plan shape: one hash(key) exchange (reused by the downstream MERGE join
    when ``num_partitions`` = the table's bucket count) + ONE sort per
    partition feeding all the window aggregates — no struct-max hash
    aggregation (var-width buffers would fall back to SortAggregate twice),
    no Python. ``F.last(..., ignorenulls)`` over the full frame picks each
    column's latest setter in the same sorted pass.
    """
    return aggregate_collapse(
        df, key, agg_spec=None, payload_cols=payload_cols,
        num_partitions=num_partitions,
    )


AGG_FNS = ("last", "sum", "max", "min")


def aggregate_collapse(
    df: DataFrame,
    key: str = "doc_id",
    agg_spec: dict | None = None,
    payload_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generalization of ``partial_collapse`` to per-column AGGREGATE
    combiners (the Paimon aggregation merge engine): ``agg_spec`` maps a
    payload column to one of

      * ``"last"`` (default) — partial-update semantics: latest setter wins;
      * ``"sum"``            — running total of the column across events;
      * ``"max"`` / ``"min"``— running extremum.

    Reset rules are shared: a DELETE kills everything before it; an INSERT
    restarts the accumulator at its own image (for aggregate columns the
    events that contribute are those at-or-after the latest D-or-I reset
    version — the D itself carries NULLs, so ">= reset" is exact for both).

    Plan shape: the sorted window pass of ``partial_collapse`` computes the
    reset versions and the "last" columns; aggregate columns ride a SECOND
    window over the same partitioning (no ordering needed for a full-frame
    sum/max — no second sort, no second exchange) because their contribution
    mask references the reset version, which Spark forbids nesting as a
    window-inside-a-window expression in a single pass.
    """
    from pyspark.sql import Window

    spec = dict(agg_spec or {})
    for c, fn in spec.items():
        if fn not in AGG_FNS:
            raise ValueError(f"unknown aggregate fn for {c!r}: {fn!r}")
    if payload_cols is None:
        payload_cols = [
            c
            for c in df.columns
            if c not in (key, "op", *VERSION_COLS)
        ]
    op = F.col("op")
    if num_partitions:
        df = df.repartition(num_partitions, F.col(key))
    agg_cols = [c for c in payload_cols if spec.get(c, "last") != "last"]
    if agg_cols:
        # duplicate DELIVERIES of one event are harmless to last/max/min but
        # would double-count a sum: collapse to one row per (key, version)
        # first — the grouping key extends the partitioning key, so this
        # aggregate runs in place on the exchange above, no extra shuffle
        df = df.dropDuplicates([key, *VERSION_COLS])
    w = (
        Window.partitionBy(key)
        .orderBy(*VERSION_COLS)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ver = F.struct(
        F.col("commit_lsn").alias("l"), F.col("seq_no").alias("s")
    )
    dv = F.max(F.when(op == "D", ver)).over(w)
    rv = F.max(F.when(op.isin("D", "I"), ver)).over(w)
    vwin = F.max(ver).over(w)
    floor = F.struct(
        F.lit(-(2**63)).cast("bigint").alias("l"),
        F.lit(0).cast("bigint").alias("s"),
    )
    sels = [
        F.col(key),
        vwin.alias("_vwin"),
        dv.alias("_dv"),
        rv.alias("_rv"),
        ver.alias("_ver"),
    ]
    if agg_cols:
        sels.append(op.alias("_op"))
    for c in payload_cols:
        if c in agg_cols:
            sels.append(F.col(c))  # aggregated in the second pass
            continue
        # "sets c": carries a value, or is a full-image INSERT (whose NULL is
        # a real NULL — wrapping in a struct lets last(ignorenulls) return it)
        sets_c = (op != "D") & (F.col(c).isNotNull() | (op == "I"))
        mc = F.last(
            F.when(sets_c, F.struct(ver.alias("v"), F.col(c).alias("x"))),
            ignorenulls=True,
        ).over(w)
        sels.append(
            F.when(
                mc.isNotNull() & (mc["v"] > F.coalesce(dv, floor)), mc["x"]
            ).alias(c)
        )
    agg = df.select(*sels)
    if agg_cols:
        w2 = Window.partitionBy(key)
        out2 = [F.col(c) for c in agg.columns if c not in agg_cols]
        for c in agg_cols:
            contrib = F.when(
                (F.col("_op") != "D")
                & (F.col("_ver") >= F.coalesce(F.col("_rv"), floor)),
                F.col(c),
            )
            fagg = {"sum": F.sum, "max": F.max, "min": F.min}[spec[c]]
            out2.append(fagg(contrib).over(w2).alias(c))
        agg = agg.select(*out2)
    one = agg.where(F.col("_ver") == F.col("_vwin")).dropDuplicates([key])
    return one.select(
        F.col(key),
        *payload_cols,
        F.when(F.col("_vwin") == F.col("_dv"), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("_vwin.l").alias("commit_lsn"),
        F.col("_vwin.s").alias("seq_no"),
        F.col("_rv.l").alias("_rv_lsn"),
        F.col("_rv.s").alias("_rv_seq"),
    )
