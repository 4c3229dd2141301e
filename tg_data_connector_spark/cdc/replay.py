"""Change-log replay driver: the engine's main loop.

Plays the role of the reference's JobContainer/TaskGroupContainer pipeline
(``JobContainer.java:95-186`` init -> split -> schedule -> post;
``TaskGroupContainer.java:92-298`` per-task reader->channel->writer threads) —
but where the reference hand-schedules threads around a bounded queue, here each
batch is ONE declarative DataFrame plan (parse -> quarantine -> dedup -> merge)
and Spark's scheduler owns parallelism. The reference's byte/record throttling
(``Channel.statPush`` ``Channel.java:176-239``) maps to ``events_per_batch``.

Exactly-once protocol (the part the reference lacks — its failover is allowed
only when the writer is idempotent, ``TigerGraphWriter.java:277-281``; here
idempotence is constructed):
  1. the snapshot summary carries per-part high-watermarks {part -> max offset
     applied} and the applied batch-id list;
  2. a batch's events are pre-filtered to ``offset > watermark[part]`` — replayed
     input after a crash contributes nothing;
  3. a batch whose batch_id is already in the summary is skipped entirely;
  4. MERGE itself is LWW-idempotent: re-applying the same deduped batch is a
     no-op on row values;
  5. commit is a single atomic pointer swap — a crash between staging files and
     publishing leaves the old snapshot current, and the re-run re-stages.
Any one of 2/3/4 alone gives exactly-once; they are layered defensively.

Schema-change events (`op='S'`) split a batch: events are applied in
(commit_lsn, seq_no) sub-batches around each schema change so no data event is
merged under the wrong schema (SURVEY §7 hard-part (b)).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.evolve import apply_schema_change
from ..lake.merge import merge_upsert
from ..lake.table import LakeTable
from .dedup import winner_filter, winner_versions
from .quality import ErrorLimit

CORE_COLS = ["doc_id", "tokens", "n_tok", "source"]


def _observed(obs) -> dict:
    """An Observation's metrics, or {} when its node never ran. Adaptive
    execution replaces a subtree it has proven empty (the kept branch of an
    all-dirty batch) and the observe node goes with it; Spark then completes
    the Observation with a row that fails to convert."""
    from py4j.protocol import Py4JJavaError

    try:
        return dict(obs.get)
    except Py4JJavaError:
        return {}


# The LWW winner prune's per-key winner versions join back to the batch
# either as a BROADCAST (losers pruned map-side before ANY shuffle, at the
# cost of a driver-side build that is FIXED time regardless of cluster
# width) or SHUFFLED-HASH (every byte of work parallelizes). The engine
# broadcasts only when the winner count is KNOWN to be <= this many keys:
# a batch of at most this many events (its prepass count) cannot have
# more winners; a larger batch persists its narrow winner aggregate,
# counts it exactly and joins against that same frame. 0 would force the
# shuffle, 2**62 the broadcast.
#
# The threshold is the key-count at which a driver-built broadcast of
# (key, packed-version) rows stops paying for itself (build + per-executor
# transfer vs shuffling the FULL pre-dedup batch). SET FROM DATA (BENCH.md
# round-4 A/B tables: interleaved forced-variant samples at the bench's
# 2.7M-key batch shape, BOTH lane widths): at 4 lanes the variants tie
# within host noise (best-of 80.3 s broadcast vs 81.1 s shuffle); at 16
# lanes broadcast wins ~2.8x (clean samples 30.2/33.0 s vs shuffle's best
# 86.0 s, adjacent in the same windows) — the all-shuffle variant moves
# ~1.3 GB through shuffle storage per batch where broadcast moves ~80 MB
# once, and wide concurrent shuffle I/O is exactly what contended hosts
# punish. So broadcast stays the default THROUGH the measured 2.7M-key
# regime (threshold 4M); beyond it the linear growth of the driver build
# must eventually lose to the flat shuffle cost, and batches that large
# are better served by lowering events_per_batch anyway.
BROADCAST_WINNERS_MAX_KEYS = 4_000_000


@dataclass
class ReplayConfig:
    events_per_batch: int = 1_000_000
    # LWW dedup (resolution="lww") has one physical plan, the JVM-side
    # two-phase winner prune: a narrow hash-aggregate finds each key's max
    # (lsn, seq) version (decimal-packed so it stays in codegen'd
    # HashAggregate), joins back to prune losers BEFORE any shuffle, then one
    # winners-only repartition + in-place dropDuplicates. The payload-wide
    # shuffle shrinks ~|events|/|keys|x and Python sees ONLY the decode of
    # winners. The salted two-phase kernel (cdc.dedup.lww_dedup_salted) is
    # an operator, not an engine option: it measured slower than the winner
    # prune (BASELINE.md, BENCH.md) — map-side partials absorb hot keys.
    # Row-resolution semantics:
    #   "lww" (default) — whole-row last-writer-wins: the winning event's
    #       image replaces the row (the flagship north-rule contract).
    #   "partial" — PARTIAL-UPDATE streams (Mongo $set patches, Cassandra
    #       cell updates, Paimon's partial-update merge engine): a NULL
    #       column in a U after-image means "unchanged". Batch collapse runs
    #       ``cdc.dedup.partial_collapse`` (per-column latest-setter within
    #       the batch, D/I resets honored) and the COW MERGE coalesces per
    #       column against the target (lake/merge partial_update=True). The
    #       dirty contract relaxes accordingly (quality.dirty_predicate
    #       partial=True: U may omit the tokens/n_tok pair, only TOGETHER).
    #       Requires merge_mode="cow" (MoR's whole-row delta resolution
    #       cannot express per-column survival) and decoded events
    #       (parse_payload=False); there is no winner prune.
    #   "aggregate" — per-column AGGREGATE combiners (Paimon's aggregation
    #       merge engine): agg_spec maps payload columns to "sum" / "max" /
    #       "min" / "last" (default "last" = partial semantics). DELETE
    #       resets the accumulator; INSERT restarts it at its own image.
    #       Same cow/decoded requirements as "partial". Sum columns fold
    #       each event once across crash-replays (watermarks) and same-batch
    #       duplicates ((key, version) collapse); re-emissions at NEW offsets
    #       in later batches need upstream normalization (see
    #       lake/merge.merge_upsert docstring — Paimon's aggregation-engine
    #       caveat). last/max/min are value-idempotent throughout.
    resolution: str = "lww"
    # resolution="aggregate": payload column -> combiner name (see above).
    agg_spec: "dict | None" = None
    # Byte-based batch sizing — the reference's most-documented throttle is
    # bytes/s per channel (``Channel.java:176-239``, ``core.json``
    # ``speed.byte``). Batch replay has no wall-clock rate to shape, so the
    # byte knob maps to batch VOLUME: when set, events_per_batch is derived as
    # bytes_per_batch / mean event payload size (measured on a bounded sample
    # at replay start). events_per_batch then acts as a floor of 1.
    bytes_per_batch: int | None = None
    # Physical MERGE strategy:
    #   "cow" (default) — copy-on-write: read + full-outer-join + rewrite every
    #       bucket the batch touches (lake/merge.merge_upsert). Best read-side
    #       plan (base files only, tombstone filter pushes to the scan), but
    #       with hash-distributed keys a CDC batch touches ~every bucket, so
    #       each commit rewrites O(table).
    #   "mor" — merge-on-read: the deduped batch appends as DELTA files
    #       (lake/merge.delta_append, O(batch) per commit, base never read);
    #       reads LWW-resolve base+delta (lake/table.resolve_lww) and
    #       compaction folds deltas down. The write-heavy half of the
    #       ingest-vs-scan trade — right when batches are frequent relative
    #       to reads (exactly the 10^10-event tail-ingest shape).
    merge_mode: str = "cow"
    # MOR auto-compaction: after a batch commit, if any bucket holds MORE than
    # this many delta files, run maintain.compact (folds every delta into the
    # base, one snapshot). None = compaction is the operator's job (scheduled
    # maintenance). Bounds read amplification at <= mor_compact_after deltas
    # per bucket between maintenance runs.
    mor_compact_after: int | None = None
    # Write-audit-publish (lake WAP surface): when set, every batch commits
    # STAGED (publish=False) and the hook runs with (table, staged_snapshot)
    # — read it via table.read(snapshot=staged) — returning True to publish
    # (atomic fast-forward) or False to reject. Rejection drops the staged
    # snapshot (files orphan for gc_orphans) and raises AuditRejected with
    # the watermark UNADVANCED, so a fixed-up re-run retries the exact same
    # batch: at-most-once application is preserved through the veto.
    wap_audit: "object | None" = None  # Callable[[LakeTable, Snapshot], bool]
    error_limit: ErrorLimit = field(default_factory=lambda: ErrorLimit(percentage=0.05))
    quarantine_dir: str | None = None
    parse_payload: bool = False  # input carries binary payload -> vectorized parse
    # Declarative data-quality EXPECTATIONS (the Delta Live Tables
    # CONSTRAINT ... EXPECT surface): named boolean SQL predicates evaluated
    # per EVENT, before LWW dedup, so dropping a violator commutes with
    # replay (the event never existed — no batch-boundary dependence).
    # Violation = predicate FALSE OR NULL (DLT rule; guard nullable columns
    # explicitly — e.g. delete events carry NULL n_tok, so a token bound
    # must read "op = 'D' OR n_tok <= k"). Contract-dirty rows and schema
    # events are exempt (they have their own paths). Cost: ONE narrow
    # column-pruned aggregate job per batch, only when expectations are set.
    expectations: "list[Expectation]" = field(default_factory=list)


@dataclass
class Expectation:
    """One named rule. action: "warn" (count only), "drop" (violators
    quarantine under <quarantine_dir>/_expectations and never reach the
    merge), "fail" (any violator aborts the batch pre-stage, watermark
    unadvanced — the re-run retries the same batch, AuditRejected-style)."""

    name: str
    predicate: str  # SQL boolean expression over event columns; True = pass
    action: str = "warn"

    def __post_init__(self):
        if self.action not in ("warn", "drop", "fail"):
            raise ValueError(f"unknown expectation action: {self.action!r}")


class ExpectationFailed(RuntimeError):
    """A fail-action expectation had violations; the batch was not applied."""


class AuditRejected(RuntimeError):
    """A ReplayConfig.wap_audit hook vetoed a staged batch. The staged
    snapshot was dropped and the watermark did not advance — re-running the
    replay (after fixing the input or the audit) retries the same batch."""


@dataclass
class BatchReport:
    batch_id: str
    events: int
    dirty: int
    deduped_keys: int
    seconds: float
    skipped: bool = False
    schema_changes: int = 0
    phases: dict = field(default_factory=dict)
    # the winner-join decision (resolution="lww"): {"join":
    # "broadcast"|"shuffle", "basis": "events"|"winners", "n": the bound it
    # was taken from — the batch's event count or its exact winner count}.
    # A batch split by schema changes reports its last sub-batch.
    winner_join: dict = field(default_factory=dict)
    # per-expectation violation counts for this batch (name -> rows)
    expectations: dict = field(default_factory=dict)


class ReplayEngine:
    def __init__(self, spark: SparkSession, table: LakeTable, config: ReplayConfig):
        self.spark = spark
        self.table = table
        self.cfg = config
        if config.resolution not in ("lww", "partial", "aggregate"):
            raise ValueError(f"unknown resolution: {config.resolution!r}")
        self._partial = config.resolution in ("partial", "aggregate")
        self._agg_spec = (
            dict(config.agg_spec or {})
            if config.resolution == "aggregate"
            else {}
        )
        # with tokens or n_tok under an aggregate combiner, n_tok is an
        # independent accumulator — drop the tokens/n_tok pair contract
        self._pair_check = not any(
            self._agg_spec.get(c, "last") != "last"
            for c in ("tokens", "n_tok")
        )
        if config.resolution == "aggregate" and not self._agg_spec:
            raise ValueError(
                "resolution='aggregate' requires a non-empty agg_spec "
                "({column: 'sum'|'max'|'min'|'last'})"
            )
        if self._agg_spec:
            cols = {f[0] for f in table.snapshot().schema().fields}
            bad = set(self._agg_spec) - cols
            if bad:
                raise ValueError(
                    f"agg_spec names unknown columns: {sorted(bad)}"
                )
        meta_res = table.meta().get("resolution", "lww")
        if meta_res != "lww" and config.resolution != meta_res:
            # the table DECLARED a columnwise merge engine (its MoR deltas
            # are partial images every reader folds accordingly): a writer
            # with different semantics would corrupt it
            raise ValueError(
                f"table declares resolution={meta_res!r}; "
                f"config has {config.resolution!r}"
            )
        if self._partial and config.merge_mode != "cow":
            # MoR defers resolution to READERS, so the engine choice must be
            # a TABLE property (like Paimon's merge-engine option), not just
            # this writer's config — otherwise plain readers would fold
            # partial delta images with whole-row LWW
            if meta_res != config.resolution:
                raise ValueError(
                    "merge_mode='mor' with columnwise resolution requires "
                    "the table to declare it: LakeTable.create(..., "
                    f"resolution={config.resolution!r}"
                    + (", agg_spec=...)" if self._agg_spec else ")")
                )
            if (
                config.resolution == "aggregate"
                and dict(table.meta().get("agg_spec") or {}) != self._agg_spec
            ):
                raise ValueError(
                    "config agg_spec differs from the table's declared "
                    "agg_spec"
                )
        if self._partial and config.parse_payload:
            raise ValueError(
                "resolution='partial' requires decoded events "
                "(parse_payload=False): per-column set/unset is judged on "
                "the decoded after-image"
            )
        from .metrics import LineageLog

        self.lineage = LineageLog(table.root)

    # ---------- watermark filtering ----------
    def _unapplied(self, changelog: DataFrame) -> DataFrame:
        """Filter to events beyond each part's high-watermark.

        The watermark map is tiny (one row per source partition), so it is
        inlined as a literal map-lookup EXPRESSION rather than joined: a
        broadcast hash join measured ~2x the whole scan's cost here (extra
        probe + codegen boundary per row), while `element_at(map<lit>, part)`
        stays inside the scan's whole-stage-codegen. At a realistic part count
        (even thousands) the literal map is still bytes-sized in the plan."""
        wm = self.table.snapshot().watermarks()
        if not wm:
            return changelog
        m = F.create_map(
            *[x for k, v in wm.items() for x in (F.lit(int(k)), F.lit(int(v)))]
        )
        hwm = F.element_at(m, F.col("part"))
        return changelog.where(hwm.isNull() | (F.col("offset") > hwm))

    # ---------- batch stats ----------
    def _stats_aggs(self) -> list:
        """Per-part stats aggregates: high-watermark, event count, the set
        of target buckets touched (feeds the merge so it never runs a
        separate probe job over the dedup plan) and the version bounds.

        Deliberately PAYLOAD-FREE: dirty counting needs octet_length(payload),
        which would force this scan to read the whole payload column; dirty
        counts instead ride the merge job itself as observe() metrics (see
        apply_batch) and the error limit is asserted post-write, pre-publish —
        the reference's own end-of-transfer checkLimit semantics. The bucket
        set includes dirty rows' buckets: a superset is safe (extra buckets
        are read and rewritten unchanged)."""
        from ..lake.table import bucket_expr

        return [
            F.max("offset").alias("hwm"),
            F.count("*").alias("n"),
            F.collect_set(
                bucket_expr("doc_id", self.table.bucket_count())
            ).alias("bks"),
            F.max("commit_lsn").alias("vl"),
            F.max("seq_no").alias("vs"),
        ]

    # ---------- one batch ----------
    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: str,
        crash_before_publish: bool = False,
        crash_after_stage: bool = False,
        run_id: str = "adhoc",
        stats: list | None = None,
    ) -> BatchReport:
        from .quality import contract_predicate

        t0 = time.time()
        snap = self.table.snapshot()
        if batch_id in snap.applied_batches():
            return BatchReport(batch_id, 0, 0, 0, time.time() - t0, skipped=True)

        # The batch stays in its RAW form (binary payload) until after LWW
        # dedup: stats + quarantine judge the payload by byte length (pure JVM),
        # and only the one winning event per key is ever decoded in Python —
        # see parse.py. The batch is deliberately NOT persisted: its consumers
        # (stats, dedup, optional quarantine) each re-run a pushdown-pruned
        # columnar scan, which measures far cheaper than materializing millions
        # of per-row cache objects (cache population burned ~40x the scan cost
        # at 2.75M events/batch — BENCH notes in BASELINE.md).
        t_stats = time.time()
        if stats is None:
            stats = batch.groupBy("part").agg(*self._stats_aggs()).collect()
        watermarks = {int(r["part"]): int(r["hwm"]) for r in stats}
        events_n = sum(r["n"] for r in stats)
        affected_buckets = sorted({b for r in stats for b in r["bks"] if b is not None})
        # exact version bounds for the batch: unlock the bigint version-pack
        # fast path in winner_filter (vs the decimal fallback)
        vls = [r["vl"] for r in stats if r["vl"] is not None]
        vss = [r["vs"] for r in stats if r["vs"] is not None]
        self._version_bounds = (
            (int(max(vls)), int(max(vss))) if vls and vss else (None, None)
        )
        self._phase_timings = {"stats": round(time.time() - t_stats, 3)}

        pred = contract_predicate(batch, partial=self._partial, pair_check=self._pair_check)
        exp_counts: dict[str, int] = {}
        if self.cfg.expectations:
            # before the dirty-quarantine write: a fail-action abort must not
            # have appended this batch's dirty rows yet (the retry would
            # duplicate them in the quarantine dir)
            batch, exp_counts = self._apply_expectations(batch, pred, batch_id)
        clean = batch.where(~pred)
        if self.cfg.quarantine_dir:
            batch.where(pred).withColumn(
                "_batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(self.cfg.quarantine_dir)

        # schema-change events order sub-batches; they are few -> driver-side list
        schema_events = []
        if "schema_change" in clean.columns:
            schema_events = (
                clean.where(F.col("op") == "S")
                .select("commit_lsn", "seq_no", "schema_change")
                .collect()
            )
            schema_events.sort(key=lambda r: (r["commit_lsn"], r["seq_no"]))
            batch = batch.where(F.col("op") != "S")

        # per-part dirty counts ride the write job's observe() node, one
        # conditional sum per part; past 64 parts only the total does, and
        # lineage records those parts' dirty as NULL (unknown), not 0
        track_parts = (
            sorted(watermarks)
            if len(watermarks) <= 64 and "part" in batch.columns
            else []
        )
        deduped_total = 0
        winner_join: dict = {}
        dirty_n = 0
        dirty_by_part = dict.fromkeys(track_parts, 0)
        bounds = [(r["commit_lsn"], r["seq_no"]) for r in schema_events]
        for k in range(len(bounds) + 1):
            sub = batch
            if k > 0:
                # INCLUSIVE lower / exclusive upper: a data event that shares a
                # schema event's exact (commit_lsn, seq_no) — contract-unusual
                # but possible from a coarse-versioned source — falls in the
                # window AFTER that schema change and is applied exactly once.
                # (Strict bounds on both sides would silently drop it.)
                lsn, seq = bounds[k - 1]
                sub = sub.where(
                    F.struct(F.col("commit_lsn"), F.col("seq_no"))
                    >= F.struct(F.lit(lsn).cast("bigint"), F.lit(seq).cast("bigint"))
                )
            if k < len(bounds):
                lsn, seq = bounds[k]
                sub = sub.where(
                    F.struct(F.col("commit_lsn"), F.col("seq_no"))
                    < F.struct(F.lit(lsn).cast("bigint"), F.lit(seq).cast("bigint"))
                )
            applied, dirty, join = self._merge_sub_batch(
                sub,
                dirty_pred=contract_predicate(sub, partial=self._partial, pair_check=self._pair_check),
                track_parts=track_parts,
                events_n=events_n,
                prior_dirty=dirty_n,
                batch_id=f"{batch_id}/{k}" if bounds else batch_id,
                watermarks=watermarks if k == len(bounds) else None,
                final=(k == len(bounds)),
                affected_buckets=affected_buckets,
                crash_before_publish=crash_before_publish,
                crash_after_stage=crash_after_stage,
            )
            deduped_total += applied
            winner_join = join or winner_join
            dirty_n += int(dirty.get("nd") or 0)
            for p in track_parts:
                dirty_by_part[p] += int(dirty.get(f"nd_{p}") or 0)
            if k < len(bounds):
                apply_schema_change(self.table, schema_events[k]["schema_change"])

        report = BatchReport(
            batch_id,
            events_n,
            dirty_n,
            deduped_total,
            time.time() - t0,
            schema_changes=len(bounds),
            phases=dict(self._phase_timings),
            winner_join=winner_join,
            expectations=exp_counts,
        )
        per_part = {
            int(r["part"]): {
                "hwm": r["hwm"],
                "events": r["n"],
                "dirty": dirty_by_part.get(int(r["part"])),
            }
            for r in stats
        }
        self.lineage.record_batch(
            run_id, batch_id, per_part, self.table.current_version(),
            report.seconds,
        )
        return report

    def _apply_expectations(
        self, batch: DataFrame, dirty_pred, batch_id: str
    ) -> tuple[DataFrame, dict]:
        """Evaluate ReplayConfig.expectations on one batch. Returns the
        (possibly drop-filtered) batch plus per-rule violation counts.

        Scope: data events only — schema events and contract-dirty rows are
        exempt (each has its own path). Violation = predicate FALSE or NULL.
        Counting is ONE narrow aggregate job; Catalyst prunes the scan to the
        columns the predicates reference. fail-action rules abort BEFORE any
        staging/quarantine side effect, so the retry replays a pristine batch.
        """
        import functools

        exps = self.cfg.expectations
        exempt = F.col("op").eqNullSafe(F.lit("S")) | dirty_pred
        viols = [
            ~exempt & ~F.coalesce(F.expr(e.predicate), F.lit(False))
            for e in exps
        ]
        row = batch.agg(
            *[F.sum(v.cast("long")).alias(f"e{i}") for i, v in enumerate(viols)]
        ).collect()[0]
        counts = {e.name: int(row[f"e{i}"] or 0) for i, e in enumerate(exps)}
        for e in exps:
            if e.action == "fail" and counts[e.name] > 0:
                raise ExpectationFailed(
                    f"expectation {e.name!r}: {counts[e.name]} violating "
                    f"events in batch {batch_id}; batch not applied"
                )
        droppable = [
            (e, v) for e, v in zip(exps, viols) if e.action == "drop"
        ]
        if droppable and any(counts[e.name] for e, _ in droppable):
            drop_pred = functools.reduce(lambda a, b: a | b, (v for _, v in droppable))
            if self.cfg.quarantine_dir:
                # underscore-prefixed subdir: invisible to a parquet read of
                # quarantine_dir itself (hidden-path convention), explicit
                # reads of .../_expectations see the rule-tagged rows
                rules = F.array_compact(
                    F.array(*[F.when(v, F.lit(e.name)) for e, v in droppable])
                )
                batch.where(drop_pred).withColumn("_rules", rules).withColumn(
                    "_batch_id", F.lit(batch_id)
                ).write.mode("append").parquet(
                    self.cfg.quarantine_dir + "/_expectations"
                )
            batch = batch.where(~drop_pred)
        return batch, counts

    def _merge_sub_batch(
        self,
        sub: DataFrame,
        dirty_pred,
        track_parts: list[int],
        events_n: int,
        prior_dirty: int,
        batch_id: str,
        watermarks: dict | None,
        final: bool,
        affected_buckets: list[int] | None,
        crash_before_publish: bool,
        crash_after_stage: bool,
    ) -> tuple[int, dict, dict]:
        """Returns (winners applied, dirty counts, the winner-join decision
        or {}). The dirty counts are {"nd": total, "nd_<part>": n per tracked
        part}, or {} when another writer had already applied the batch.

        ``sub`` arrives UNFILTERED (dirty rows included): the quarantine split
        happens here so the dirty counts can ride the merge job itself as
        observe() metrics on the kept-scan — the one pass that reads the
        payload anyway — instead of a dedicated full-payload scan per batch.
        The error limit is asserted post-write/pre-publish via the merge's
        hook: on violation the staged files orphan and the table is untouched.
        """
        from pyspark.sql import Observation

        snap = self.table.snapshot()
        schema = snap.schema()
        cols = schema.names()
        # rename-lag map: old column name -> current name, from the table's
        # per-version rename log. An upstream that still emits the pre-rename
        # field keeps applying cleanly — the reference's column-mapping
        # config semantics (SnowflakeReader `column`, SURVEY §2.3).
        from ..lake.table import historical_names

        alias_of: dict[str, str] = {}
        for c in cols:
            for a in historical_names(c, snap.schema_id, snap.schemas)[1:]:
                alias_of.setdefault(a, c)
        raw_mode = "tokens" not in sub.columns and "payload" in sub.columns

        dirty_aggs = [F.sum(dirty_pred.cast("long")).alias("nd")] + [
            F.sum((dirty_pred & (F.col("part") == p)).cast("long")).alias(f"nd_{p}")
            for p in track_parts
        ]
        obs = Observation()
        # the observe node goes on the KEPT branch only; the winners-
        # aggregate branch gets an observe-free twin of the same filter,
        # so the metric node executes exactly once per write job (no
        # double counting)
        clean_kept = sub.observe(obs, *dirty_aggs).where(~dirty_pred)
        clean_agg = sub.where(~dirty_pred)

        # Dedup FIRST, on the narrowest projection that can still reconstruct
        # the row: key + version + op + whichever payload-bearing columns exist.
        # The shuffle then carries one binary cell per event instead of a
        # materialized token array, and the Python decode below runs on the
        # ~|keys| winners, not the |events| input.
        want = set(cols) | set(alias_of) | {"extra", "payload"}
        carry = [c for c in sub.columns if c in want and c != "doc_id"]

        def project(frame):
            return frame.select(
                "doc_id",
                F.col("op"),
                F.col("commit_lsn").cast("bigint").alias("commit_lsn"),
                F.col("seq_no").cast("bigint").alias("seq_no"),
                *carry,
            )

        src = project(clean_kept)
        src_agg = project(clean_agg)
        nb = self.table.bucket_count()
        join: dict = {}
        metrics = {"events": events_n}
        summary = {"batch_id": batch_id, "metrics": metrics} if final else {
            "batch_id": batch_id
        }
        if final and watermarks is not None:
            summary["watermarks"] = watermarks
        dirty: dict = {}

        def count_dirty() -> dict:
            # the observe node's own aggregates as one narrow job, for a
            # batch whose write job never ran the node: an all-dirty batch
            # (adaptive execution plans the empty kept branch away, node and
            # all) or one with no bucket to write
            return sub.agg(*dirty_aggs).first().asDict()

        def record_dirty(got: dict) -> None:
            dirty.update(got)
            metrics["dirty"] = int(got["nd"] or 0)
            self.cfg.error_limit.check(
                prior_dirty + metrics["dirty"], max(events_n, 1)
            )

        cached = None  # a large batch's persisted winner aggregate
        try:
            if self._partial:
                # partial-update streams: NO winner prune — losing events still
                # carry column values the collapse must see. One hash(key)
                # exchange into the table's bucket layout (reused by the MERGE
                # join and the bucket-aligned write), one sorted window pass.
                from .dedup import aggregate_collapse

                if raw_mode or "extra" in src.columns:
                    raise ValueError(
                        "resolution='partial' supports directly-decoded event "
                        "columns only (no binary payload / semi-structured "
                        "'extra' map)"
                    )
                if self.cfg.merge_mode == "mor":
                    # RAW-EVENT deltas. The batch collapse embeds older setters'
                    # values at the winner's version, which is only sound when
                    # batch version-ranges never interleave (the batch driver's
                    # LSN-ordered offset windows guarantee that; a streaming
                    # tail's FILE-split micro-batches do NOT). MoR needs no
                    # write-time collapse for correctness — the read fold IS the
                    # collapse over the whole reconstructed stream
                    # (lake/table.resolve_columnwise) — so each event appends as
                    # its own delta row, I events marked as restarts at their
                    # own version, and resolution is exact under ANY delivery
                    # order. One hash(key) exchange; the exact-duplicate drop
                    # extends the partition key, so it aggregates in place.
                    deduped = (
                        src.repartition(nb, F.col("doc_id"))
                        .dropDuplicates(["doc_id", "commit_lsn", "seq_no"])
                        .withColumn(
                            "_rv_lsn",
                            F.when(
                                F.col("op") == "I", F.col("commit_lsn")
                            ).cast("bigint"),
                        )
                        .withColumn(
                            "_rv_seq",
                            F.when(F.col("op") == "I", F.col("seq_no")).cast(
                                "bigint"
                            ),
                        )
                    )
                else:
                    deduped = aggregate_collapse(
                        src,
                        "doc_id",
                        agg_spec=self._agg_spec or None,
                        payload_cols=[
                            c
                            for c in src.columns
                            if c not in ("doc_id", "op", "commit_lsn", "seq_no")
                        ],
                        num_partitions=nb,
                    )
            else:
                # JVM-side winner prune (no Python, no payload-wide shuffle), then
                # one winners-only repartition to the table bucket count. Decode
                # runs BEFORE that exchange, map-side: ArrowEvalPython erases the
                # partitioning a node reports (verified via explain — placing it
                # after the repartition re-inserts an ENSURE_REQUIREMENTS exchange
                # ahead of the MERGE join), while placed here it rides the same
                # stage as the scan+filter and Python still sees only winners.
                # The dropDuplicates collapses exact duplicate deliveries of a
                # winning event (identical payloads by contract); its grouping key
                # matches the repartition, so the aggregate runs IN PLACE and the
                # HashPartitioning(doc_id, nb) survives through it and the final
                # projections: the MERGE join and the bucket-aligned write add NO
                # further exchange — ONE winners-sized shuffle end-to-end.
                lm, sm = self._version_bounds
                versions = winner_versions(src_agg, "doc_id", lsn_max=lm, seq_max=sm)
                limit = BROADCAST_WINNERS_MAX_KEYS
                if events_n <= limit:
                    # a batch never has more winners than events: the
                    # prepass count already bounds the winner set
                    join = {"join": "broadcast", "basis": "events", "n": events_n}
                else:
                    # count the winners exactly, on the SAME persisted frame
                    # the join then reads (no second scan of the batch)
                    t_w = time.time()
                    versions = cached = versions.persist()
                    k = versions.count()
                    join = {
                        "join": "broadcast" if k <= limit else "shuffle",
                        "basis": "winners",
                        "n": k,
                    }
                    self._phase_timings["winner_count"] = round(
                        time.time() - t_w, 3
                    )

                def decode_proj(frame):
                    from .parse import decode_tokens

                    pos = frame.columns.index("payload")
                    return frame.select(
                        *[
                            decode_tokens(F.col("payload")).alias("tokens")
                            if i == pos
                            else F.col(c)
                            for i, c in enumerate(frame.columns)
                        ]
                    )

                if join["join"] == "broadcast":
                    kept = winner_filter(
                        src, "doc_id", lsn_max=lm, seq_max=sm, winners=versions
                    )
                    if raw_mode:
                        kept = decode_proj(kept)
                    deduped = kept.repartition(nb, F.col("doc_id")).dropDuplicates(
                        ["doc_id"]
                    )
                else:
                    # all-shuffle variant: one hash(key) exchange of the full
                    # batch (the explicit north-rule shuffle), winners joined
                    # shuffled-hash in place, dedup agg in place, decode after —
                    # no driver-side fixed cost anywhere in the pipeline
                    parted = src.repartition(nb, F.col("doc_id"))
                    kept = winner_filter(
                        parted, "doc_id", broadcast=False,
                        lsn_max=lm, seq_max=sm, winners=versions,
                    )
                    deduped = kept.dropDuplicates(["doc_id"])
                    if raw_mode:
                        deduped = decode_proj(deduped)
            # project up to the live table schema: evolved columns arrive either
            # directly, via the semi-structured after-image map, or null-filled
            out_cols = []
            rev_aliases: dict[str, list[str]] = {}
            for old, new in alias_of.items():
                rev_aliases.setdefault(new, []).append(old)
            for c in cols:
                candidates = [c, *rev_aliases.get(c, [])]  # current name first
                hit = next((n for n in candidates if n in deduped.columns), None)
                typ = dict(schema.fields)[c]
                if hit is not None:
                    out_cols.append(F.col(hit).cast(typ).alias(c))
                elif "extra" in deduped.columns:
                    # the after-image map may also use a pre-rename field name
                    out_cols.append(
                        F.coalesce(
                            *[
                                F.try_element_at(F.col("extra"), F.lit(n)).try_cast(typ)
                                for n in candidates
                            ]
                        ).alias(c)
                    )
                else:
                    out_cols.append(F.lit(None).cast(typ).alias(c))
            deduped = deduped.select(
                *out_cols,
                "op",
                "commit_lsn",
                "seq_no",
                *(["_rv_lsn", "_rv_seq"] if self._partial else []),
            )
            # exact winner count riding the SAME write job (observe node on
            # the collapsed changeset — no extra action): the report's
            # deduped_keys and the snapshot's metrics.winners
            wobs = Observation()
            deduped = deduped.observe(wobs, F.count(F.lit(1)).alias("nw"))

            def pre_publish():
                # runs after the write job, before the snapshot publishes: the
                # observe metrics are final here
                metrics["winners"] = int(_observed(wobs).get("nw") or 0)
                record_dirty(_observed(obs) or count_dirty())

            wap = self.cfg.wap_audit is not None
            if self.cfg.merge_mode == "mor":
                from ..lake.merge import delta_append

                snap = delta_append(
                    self.table,
                    deduped,
                    summary_update=summary,
                    affected_buckets=affected_buckets,
                    bucket_aligned=True,
                    crash_before_publish=crash_before_publish and final,
                    crash_after_stage=crash_after_stage and final,
                    timings=self._phase_timings,
                    pre_publish_check=pre_publish,
                    publish=not wap,
                )
            else:
                snap = merge_upsert(
                    self.table,
                    deduped,
                    summary_update=summary,
                    affected_buckets=affected_buckets,
                    crash_before_publish=crash_before_publish and final,
                    crash_after_stage=crash_after_stage and final,
                    timings=self._phase_timings,
                    pre_publish_check=pre_publish,
                    publish=not wap,
                    partial_update=self._partial,
                    agg_spec=self._agg_spec or None,
                )
        finally:
            if cached is not None:
                cached.unpersist()
        if snap is None:
            # no bucket to write, so the write job never ran
            if events_n > 0:
                record_dirty(count_dirty())
            if final and watermarks is not None:
                # nothing merged but the watermark still advances: commit a
                # data-less snapshot carrying it
                self.table.commit([], replace_buckets=None, summary_update=summary)
            return 0, dirty, join
        # write-audit-publish gate. A merge that found the batch already
        # applied returns the CURRENT snapshot (version == pointer) — nothing
        # staged, nothing to audit.
        if wap and snap.version != self.table.current_version():
            if self.cfg.wap_audit(self.table, snap):
                self.table.publish_staged(snap.version)
            else:
                self.table.drop_staged(snap.version)
                raise AuditRejected(f"batch {batch_id} vetoed by wap_audit")
        if self.cfg.merge_mode == "mor" and final and self.cfg.mor_compact_after:
            from ..lake.maintain import compact, delta_depths

            # INCREMENTAL: fold only the buckets whose delta depth
            # crossed the threshold — O(selected buckets), not O(table);
            # the snapshot's file list is in memory, so the pick is free.
            # Runs AFTER the WAP gate: compaction rewrites only PUBLISHED
            # state (a vetoed batch must not get folded into the base).
            over = [
                b
                for b, d in delta_depths(snap).items()
                if d > self.cfg.mor_compact_after
            ]
            if over:
                t_c = time.time()
                compact(self.table, buckets=sorted(over))
                self._phase_timings["compact"] = round(time.time() - t_c, 3)
        return metrics.get("winners", 0), dirty, join

    # ---------- full replay ----------
    def replay(
        self,
        changelog: DataFrame,
        run_id: str = "run",
        max_batches: int | None = None,
        crash_before_publish_at: int | None = None,
        crash_after_stage_at: int | None = None,
        bounds: tuple[int, int, int] | None = None,
    ) -> list[BatchReport]:
        """Apply the whole (remaining) changelog in offset-window batches.
        Resumable: re-invoking after a crash continues from the snapshot's
        watermarks. Batch ids are deterministic -> replays are idempotent.

        ``bounds``: optional (n_parts, lo_offset, hi_offset). A real change-log
        tail knows its offset range from the source (binlog/WAL positions)
        without scanning; callers that do (generators, staged benchmarks) pass
        it to skip the planning scan. None -> derived with one aggregate scan.
        """
        remaining = self._unapplied(changelog)
        if bounds is not None:
            n_parts, lo, hi = bounds
            if hi < lo:
                return []
        else:
            # one planning scan: partition count + offset bounds together
            row = remaining.agg(
                F.max("part").alias("p"),
                F.min("offset").alias("lo"),
                F.max("offset").alias("hi"),
            ).collect()[0]
            if row["lo"] is None:
                return []
            n_parts, lo, hi = int(row["p"]) + 1, int(row["lo"]), int(row["hi"])
        reports: list[BatchReport] = []
        events_per_batch = self.cfg.events_per_batch
        if self.cfg.bytes_per_batch is not None:
            sample = remaining.limit(10_000)
            size_col = (
                F.octet_length(F.col("payload"))
                if "payload" in remaining.columns
                else F.size(F.col("tokens")) * 4
            )
            avg = (
                sample.agg(F.avg(F.coalesce(size_col, F.lit(0))).alias("a"))
                .collect()[0]["a"]
            )
            if avg and avg > 0:
                events_per_batch = max(1, int(self.cfg.bytes_per_batch / avg))
        per_part = max(1, events_per_batch // n_parts)

        # prepass: the per-batch stats for EVERY offset window in one job —
        # one NARROW scan of the remaining log instead of one scan per batch.
        # Payload-free by design (see _stats_aggs): reading the payload
        # column here just to pre-count dirty records measured ~25 CPU-s per
        # 16.8M events; dirty counts ride the merge jobs as observe metrics.
        t_pre = time.time()
        win = F.floor((F.col("offset") - F.lit(lo)) / F.lit(per_part)).cast("int")
        stats_by_window: dict[int, list] = {}
        for r in (
            remaining.groupBy(win.alias("w"), F.col("part"))
            .agg(*self._stats_aggs())
            .collect()
        ):
            stats_by_window.setdefault(int(r["w"]), []).append(r)
        prepass_s = round(time.time() - t_pre, 3)

        b = 0
        for start in range(lo, hi + 1, per_part):
            end = min(start + per_part - 1, hi)
            batch_id = f"{run_id}:off[{start}-{end}]"
            batch = remaining.where(
                (F.col("offset") >= start) & (F.col("offset") <= end)
            )
            rep = self.apply_batch(
                batch,
                batch_id,
                crash_before_publish=(crash_before_publish_at == b),
                crash_after_stage=(crash_after_stage_at == b),
                run_id=run_id,
                stats=stats_by_window.get(b, []),
            )
            if b == 0:
                rep.phases["stats_prepass"] = prepass_s
            reports.append(rep)
            b += 1
            if max_batches is not None and b >= max_batches:
                break
        self.lineage.flush(self.spark)
        return reports


def requeue_quarantine(
    spark,
    table,
    quarantine_dir: str,
    fix=None,
    run_id: str = "requeue",
    config: ReplayConfig | None = None,
) -> BatchReport:
    """Dead-letter replay: re-ingest quarantined dirty records after an
    upstream fix (the reference's dirty records are terminal — a human reads
    the TaskPluginCollector report and re-runs the whole job; here the
    quarantine is a parquet dir and the fix is one bounded batch).

    ``fix``: optional DataFrame -> DataFrame correction (e.g. recompute a
    broken n_tok). Rows STILL violating the contract after the fix stay
    dirty and never merge. The batch deliberately bypasses the watermark
    pre-filter — quarantined offsets are below the high-watermark by
    construction — which is safe because the MERGE is version-ordered and
    idempotent: a corrected event wins only if its (commit_lsn, seq_no)
    still beats the applied row, exactly the LWW contract. The snapshot's
    watermark merge is monotone, so the old offsets never regress it; the
    applied-batch-id check makes re-running the same requeue a no-op.
    Fresh dirt quarantined after this call needs a new ``run_id``."""
    cfg = config or ReplayConfig(error_limit=ErrorLimit())
    eng = ReplayEngine(spark, table, cfg)
    batch = spark.read.parquet(quarantine_dir).drop("_batch_id")
    if fix is not None:
        batch = fix(batch)
    report = eng.apply_batch(batch, batch_id=f"requeue/{run_id}", run_id=run_id)
    eng.lineage.flush(spark)
    return report
