"""Workload inputs, staging cache, oracle checksum and the three loops.

Inputs come from the package's generators at a benchmark-chosen seed; the
engine only ever sees the staged parquet changelog and a copy of the staged
base table. The expected final state is computed from a separate path: the
column-expression generator ``gen_changelog`` and the window-function oracle
``tests/oracle.py:oracle_final_state`` -- neither shares code with the
engine's numpy generator, Arrow decode or merge.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from urllib.parse import urlparse

# bump when a generator formula or a staged layout changes
GEN_VERSION = "g4-pb1"
N_PARTS = 8
N_BUCKETS = 8
CACHE_KEEP = 24  # staged inputs kept per checkout (least recently used go)
FINAL_READERS = 10  # read + lookup pairs after the writes, when not per tick
COMPACTIONS = 5  # compact_s is the median over this many table copies
LOOKUP_KEYS = 4  # fixed keys per lookup (at most this many buckets read)
STARVED_FACTOR = 2.5  # timed loop stops early past this multiple of --seconds

LOG_DDL = (
    "event_id bigint, op string, commit_lsn bigint, seq_no bigint,"
    " doc_id string, n_tok int, source string, part int, offset bigint,"
    " payload binary"
)
SEQ_FIELDS = [
    ("doc_id", "string"),
    ("tokens", "array<int>"),
    ("n_tok", "int"),
    ("source", "string"),
]


@dataclass(frozen=True)
class Spec:
    """``events`` is events per batch: the whole log for the bulk workload,
    one tick for the tails. ``ticks`` are staged. A run first applies
    ``warmup`` untimed batches (whole-log replays for bulk, ticks for the
    tails), then ``timed_ops`` timed ones. ``op_s`` is the nominal wall
    of one timed operation on a 4-vCPU host."""

    n_docs: int
    events: int
    ticks: int
    warmup: int
    mode: str
    readers_per_tick: bool
    op_s: float

    def scaled(self, scale: float) -> "Spec":
        return replace(
            self,
            n_docs=max(400, int(self.n_docs * scale)),
            events=max(N_PARTS * 50, int(self.events * scale)),
        )

    def timed_ops(self, seconds: float, min_ops: int) -> int:
        """Timed operations per run: ``seconds`` at the nominal operation
        time (capped by the staged ticks a tail run has left), so every run
        measures the same amount of work at the same points of the JVM's
        warm-up curve, however fast the host is."""
        ops = max(min_ops, round(seconds / self.op_s))
        return ops if self.ticks == 1 else min(ops, self.ticks - self.warmup)

    def final_hi(self, seconds: float, min_ops: int) -> int:
        """Highest offset a run that completes its operations applies."""
        last = 0 if self.ticks == 1 else self.warmup + self.timed_ops(seconds, min_ops) - 1
        return (last + 1) * self.per - 1

    @property
    def per(self) -> int:
        """Offsets per tick (each offset carries one event per part)."""
        return self.events // N_PARTS


SPECS = {
    # one large batch, ~10 events per key: the per-event layers dominate
    "bulk_backfill": Spec(
        n_docs=20_000, events=200_000, ticks=1, warmup=2, mode="cow",
        readers_per_tick=False, op_s=2.5,
    ),
    # small ticks into a 5x larger table: per-batch fixed cost and the COW
    # whole-bucket rewrite dominate (runnable; not in BENCHMARK.json, see
    # README.md for the time budget that left it out)
    "tail_cow": Spec(
        n_docs=50_000, events=10_000, ticks=24, warmup=3, mode="cow",
        readers_per_tick=False, op_s=2.5,
    ),
    # the same ticks as MoR delta appends, with readers beside the writer
    "tail_mor_read": Spec(
        n_docs=50_000, events=10_000, ticks=24, warmup=3, mode="mor",
        readers_per_tick=True, op_s=3.0,
    ),
}


# ---------------------------------------------------------------- oracle

def checksum(df) -> list:
    """Order-independent [row count, summed xxhash64] over the core columns."""
    from pyspark.sql import functions as F

    h = F.xxhash64(
        F.col("doc_id").cast("string"),
        F.col("tokens").cast("array<int>"),
        F.col("n_tok").cast("int"),
        F.col("source").cast("string"),
    )
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return [int(r["n"]), str(r["h"] if r["h"] is not None else 0)]


def _load_oracle(root: str):
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.oracle_final_state


def expected_checksum(spark, root: str, spec: Spec, seed: int, hi: int) -> list:
    """Checksum of the oracle's final state after offsets <= ``hi``."""
    from tg_data_connector_spark.cdc import gen_changelog, gen_seed_sequences

    oracle_final_state = _load_oracle(root)
    # event i sits at offset i // N_PARTS and the generator's formulas do not
    # depend on the log length, so the log of the first N_PARTS * (hi + 1)
    # events (re-sent duplicates included) is exactly the offsets <= hi prefix
    log = gen_changelog(
        spark, N_PARTS * (hi + 1), spec.n_docs, n_parts=N_PARTS, seed=seed
    )
    return checksum(
        oracle_final_state(gen_seed_sequences(spark, spec.n_docs, seed=seed), log)
    )


# ---------------------------------------------------------------- staging

class Stage:
    """One staged input: ``log/tick=<k>`` parquet changelog slices, a
    pre-seeded ``base`` table, and ``expected.json`` (oracle checksums keyed
    by the highest applied offset). Built once per (workload, seed,
    generator version, size) and reused by later runs in the checkout."""

    def __init__(self, cache_dir: str, name: str, spec: Spec, seed: int):
        self.spec = spec
        self.seed = seed
        self.dir = os.path.join(
            cache_dir,
            f"{name}-s{seed}-{GEN_VERSION}-{spec.n_docs}x{spec.events}x{spec.ticks}",
        )

    def tick_path(self, k: int) -> str:
        return os.path.join(self.dir, "log", f"tick={k}")

    def bounds(self, k: int) -> tuple[int, int, int]:
        return (N_PARTS, k * self.spec.per, (k + 1) * self.spec.per - 1)

    def _expected_path(self) -> str:
        return os.path.join(self.dir, "expected.json")

    def _cached(self) -> dict:
        with open(self._expected_path()) as f:
            return json.load(f)

    def ready(self, his: list[int]) -> bool:
        """Inputs staged and the oracle checksums for ``his`` cached."""
        if not os.path.exists(self._expected_path()):
            return False
        os.utime(self.dir)  # LRU mark
        cached = self._cached()
        return all(str(hi) in cached for hi in his)

    def ensure(self, spark, root: str, his: list[int]) -> None:
        """Stage the inputs if missing, then cache the oracle checksums for
        every highest-applied-offset in ``his``."""
        if not os.path.exists(self._expected_path()):
            self._generate(spark)
        for hi in his:
            self.expected(spark, root, hi)

    def _generate(self, spark) -> None:
        from pyspark.sql import functions as F
        from tg_data_connector_spark.cdc import gen_seed_sequences
        from tg_data_connector_spark.cdc.genlog import gen_changelog_payload_fast
        from tg_data_connector_spark.lake import LakeTable, TableSchema

        spec = self.spec
        tmp = f"{self.dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        log = gen_changelog_payload_fast(
            spark, spec.events * spec.ticks, spec.n_docs, n_parts=N_PARTS,
            seed=self.seed,
        )
        log.withColumn("tick", (F.col("offset") / spec.per).cast("int")).write.partitionBy(
            "tick"
        ).parquet(os.path.join(tmp, "log"))
        base = LakeTable.create(
            spark, os.path.join(tmp, "base"), TableSchema(SEQ_FIELDS),
            key="doc_id", n_buckets=N_BUCKETS,
        )
        base.append(gen_seed_sequences(spark, spec.n_docs, seed=self.seed))
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump({}, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.rename(tmp, self.dir)
        _prune(os.path.dirname(self.dir))

    def expected(self, spark, root: str, hi: int) -> list:
        """Oracle checksum for offsets <= ``hi``, computed once and cached."""
        cached = self._cached()
        if str(hi) not in cached:
            cached[str(hi)] = expected_checksum(spark, root, self.spec, self.seed, hi)
            path = self._expected_path()
            with open(path + ".tmp", "w") as f:
                json.dump(cached, f)
            os.replace(path + ".tmp", path)
        return cached[str(hi)]

    def open_copy(self, spark, dest: str):
        """Fresh copy of the staged base table (manifest paths are
        table-relative, so a directory copy is a valid table)."""
        from tg_data_connector_spark.lake import LakeTable

        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(os.path.join(self.dir, "base"), dest)
        table = LakeTable(spark, dest)
        table.snapshot()
        return table


def _prune(cache_dir: str) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_dir) if e.is_dir() and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-CACHE_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)


# ---------------------------------------------------------------- loops

@dataclass
class Samples:
    batch_s: list = field(default_factory=list)
    batch_events: list = field(default_factory=list)
    batch_traced: list = field(default_factory=list)
    read_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    compact_s: list = field(default_factory=list)
    read_scans: list = field(default_factory=list)  # (files, bytes) planned
    lookup_scans: list = field(default_factory=list)
    checks: list = field(default_factory=list)  # (expected, got)
    storage_bytes: int = 0
    live_rows: int = 0
    tick_spans: list = field(default_factory=list)
    stopped_early: bool = False
    phases: dict = field(default_factory=dict)  # untimed bookkeeping walls

    @property
    def attempted(self) -> int:
        return (
            len(self.batch_s) + len(self.read_s) + len(self.lookup_s)
            + len(self.compact_s)
        )

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(e == g for e, g in self.checks)


class Runner:
    """Drives one workload against an opened session and staged input."""

    def __init__(self, spark, root: str, run_dir: str, stage: Stage, tracer):
        self.spark = spark
        self.root = root
        self.run_dir = run_dir
        self.stage = stage
        self.spec = stage.spec
        self.tracer = tracer
        self.s = Samples()
        self.lookup_keys = [
            f"d{(k * 7919) % self.spec.n_docs:08d}" for k in range(LOOKUP_KEYS)
        ]

    def engine(self, table):
        from tg_data_connector_spark.cdc import ReplayConfig, ReplayEngine

        return ReplayEngine(
            self.spark, table,
            ReplayConfig(
                events_per_batch=10**12, parse_payload=True,
                merge_mode=self.spec.mode,
            ),
        )

    def tick_df(self, k: int):
        return self.spark.read.schema(LOG_DDL).parquet(self.stage.tick_path(k))

    def open_table(self, name: str):
        table = self.stage.open_copy(self.spark, os.path.join(self.run_dir, name))
        return table, self.engine(table)

    # -- timed operations ------------------------------------------------
    def _op(self, name: str, tick: int, traced: bool):
        tr = self.tracer
        if tr is None:
            return nullcontext()
        tr.enabled = traced
        tr.tick = tick
        return tr.span(name)

    def replay_tick(self, eng, k: int, op: int, traced: bool = False) -> None:
        df = self.tick_df(k)
        with self._op("op.batch", op, traced) as sp:
            t0 = time.perf_counter()
            reports = eng.replay(df, run_id=f"tick{k}", bounds=self.stage.bounds(k))
            dt = time.perf_counter() - t0
        self.s.batch_s.append(dt)
        self.s.batch_events.append(sum(r.events for r in reports))
        self.s.batch_traced.append(traced)
        if sp is not None:
            self.s.tick_spans.append(sp)

    def read_once(self, table, op: int) -> None:
        with self._op("lake.table.read", op, self.tracer is not None):
            t0 = time.perf_counter()
            df = table.read()
            df.write.format("noop").mode("overwrite").save()
            self.s.read_s.append(time.perf_counter() - t0)
        self.s.read_scans.append(_scan(df))

    def lookup_once(self, table, op: int) -> None:
        with self._op("lake.table.lookup", op, self.tracer is not None):
            t0 = time.perf_counter()
            df = table.lookup(self.lookup_keys)
            rows = df.collect()
            self.s.lookup_s.append(time.perf_counter() - t0)
        self.s.lookup_scans.append(_scan(df))
        if len(rows) > len(self.lookup_keys):
            raise RuntimeError("lookup returned more rows than probed keys")

    def compact_once(self, table, op: int) -> None:
        from tg_data_connector_spark.lake import maintain

        with self._op("op.compact", op, self.tracer is not None):
            t0 = time.perf_counter()
            maintain.compact(table)
            self.s.compact_s.append(time.perf_counter() - t0)

    def check(self, table, hi: int) -> None:
        """Untimed oracle comparison of the table's live state."""
        if self.tracer is not None:
            self.tracer.enabled = False
        t0 = time.perf_counter()
        self.s.checks.append(
            (self.stage.expected(self.spark, self.root, hi), checksum(table.read()))
        )
        self._phase("check_s", t0)

    def _phase(self, name: str, t0: float) -> None:
        self.s.phases[name] = self.s.phases.get(name, 0.0) + time.perf_counter() - t0

    def record_storage(self, table) -> None:
        snap = table.snapshot()
        self.s.storage_bytes = sum(
            os.path.getsize(os.path.join(table.root, f["path"])) for f in snap.files
        )
        self.s.live_rows = table.read().count()

    def finish(self, table, hi: int, op: int, readers: int) -> None:
        """Storage, readers (unless they ran per tick), then COMPACTIONS
        compactions, each of a fresh copy of the final table, and the oracle
        check of the last compacted copy."""
        from tg_data_connector_spark.lake import LakeTable

        t0 = time.perf_counter()
        self.record_storage(table)
        for _ in range(readers):
            self.read_once(table, op)
            self.lookup_once(table, op)
            op += 1
        for i in range(COMPACTIONS):
            dest = os.path.join(self.run_dir, f"compact{i}")
            shutil.rmtree(dest, ignore_errors=True)
            shutil.copytree(table.root, dest)
            copy = LakeTable(self.spark, dest)
            self.compact_once(copy, op)
            op += 1
        self._phase("finish_s", t0)
        self.check(copy, hi)

    # -- workloads -----------------------------------------------------------
    def run_bulk(self, seconds: float, min_ops: int) -> None:
        """``warmup`` untimed replays, then full replays into fresh
        base-table copies; the last one is checked against the oracle."""
        hi = self.stage.bounds(0)[2]
        t0 = time.perf_counter()
        for k in range(self.spec.warmup):
            table, eng = self.open_table(f"warm{k}")
            eng.replay(self.tick_df(0), run_id="warm", bounds=self.stage.bounds(0))
            shutil.rmtree(table.root, ignore_errors=True)
        self._phase("warmup_s", t0)
        ops = self.spec.timed_ops(seconds, min_ops)
        t0 = time.perf_counter()
        for op in range(ops):
            if op:
                shutil.rmtree(table.root, ignore_errors=True)
            table, eng = self.open_table(f"rep{op}")
            self.replay_tick(eng, 0, op, traced=self._traced(op))
            if self._starved(t0, seconds, op, ops, min_ops):
                break
        self.finish(table, hi, op + 1, readers=FINAL_READERS)

    def run_tail(self, table, eng, seconds: float, min_ops: int) -> None:
        """Untimed warm-up ticks, then one tick per operation (with a read
        and a lookup after each when the workload has readers)."""
        spec = self.spec
        t0 = time.perf_counter()
        for k in range(spec.warmup):
            eng.replay(self.tick_df(k), run_id=f"tick{k}", bounds=self.stage.bounds(k))
        self._phase("warmup_s", t0)
        ops = spec.timed_ops(seconds, min_ops)
        t0 = time.perf_counter()
        for op in range(ops):
            self.replay_tick(eng, spec.warmup + op, op, traced=self._traced(op))
            if spec.readers_per_tick:
                self.read_once(table, op)
                self.lookup_once(table, op)
            if self._starved(t0, seconds, op, ops, min_ops):
                break
        hi = self.stage.bounds(spec.warmup + op)[2]
        self.finish(
            table, hi, op + 1, readers=0 if spec.readers_per_tick else FINAL_READERS
        )

    def _starved(self, t0: float, seconds: float, op: int, ops: int, min_ops: int) -> bool:
        """Safety stop for a host far slower than the reference one: the run
        ends early (with fewer samples) instead of overrunning its budget."""
        done = op + 1
        over = time.perf_counter() - t0 > STARVED_FACTOR * seconds
        self.s.stopped_early = over and min_ops <= done < ops
        return self.s.stopped_early

    def _traced(self, op: int) -> bool:
        """Traced runs interleave traced and untraced operations in ABBA
        order, so a warm-up trend does not bias the overhead estimate."""
        return self.tracer is not None and op % 4 in (0, 3)


def _scan(df) -> tuple[int, int]:
    """Files a read plans to open and their bytes on disk (Spark's stage
    input-bytes metric undercounts vectorized parquet reads of local files)."""
    paths = [urlparse(f).path for f in df.inputFiles()]
    return len(paths), sum(os.path.getsize(p) for p in paths)


def median(xs: list) -> float:
    return float(statistics.median(xs)) if xs else 0.0
