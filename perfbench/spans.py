"""Spans around the engine's public calls, attributed to Spark's status store.

The tracer lives entirely in the benchmark: it wraps public entry points of
the package (``ReplayEngine.replay`` / ``apply_batch``, the lake's merge,
write, commit and snapshot calls, ``maintain.compact``) at run time and
restores them afterwards. Each span records name, start, end, parent and the
tick (timed operation) it belongs to. On entry to a span that can launch
Spark jobs it sets the ``spark.jobGroup.id`` local property, so every job,
stage and SQL execution in the status store can be charged to the innermost
span that caused it. Spans stay in memory; ``StatusReader`` reads the store
once, after the run.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    tick: int | None
    start: float
    end: float = 0.0
    error: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` is toggled per operation, so a
    traced run can interleave traced and untraced operations and report the
    difference as tracing overhead."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.tick: int | None = None
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"{GROUP_PREFIX}{span.id}" if span else None
        )

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Record one span. ``jobs=False`` for calls that never launch a
        Spark job (skips the two local-property round trips)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, parent.id if parent else None, self.tick,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if jobs:
            self._set_group(s)
        try:
            yield s
        except Exception as exc:
            s.error = type(exc).__name__
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, after=None):
        """Replace ``owner.attr`` by a spanned version. ``after(span, args,
        result)`` may add counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(name, jobs=jobs) as s:
                out = orig(*args, **kwargs)
                if s is not None and after is not None:
                    after(s, args, out)
                return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    """Duration minus the time its (sequential, nested) children cover."""
    return span.dur - sum(c.dur for c in kids.get(span.id, []))


def _dir_bytes(path: str) -> int:
    try:
        return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
    except FileNotFoundError:
        return 0


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the package's public calls. Module attributes are patched where
    the engine looks them up, so engine-internal calls are spanned too."""
    from tg_data_connector_spark.cdc import replay as replay_mod
    from tg_data_connector_spark.lake import maintain as maintain_mod
    from tg_data_connector_spark.lake import merge as merge_mod
    from tg_data_connector_spark.lake.table import LakeTable

    def batch_counts(s, args, out):
        s.counts["events"] = out.events
        s.counts["winners"] = out.deduped_keys

    def replay_counts(s, args, out):
        # replay() adds the prepass phase after apply_batch has returned
        s.counts["prepass_s"] = sum(r.phases.get("stats_prepass", 0.0) for r in out)

    def files_counts(s, args, out):
        s.counts["files"] = len(out)
        s.counts["rows"] = sum(int(e.get("rows") or 0) for e in out)

    def meta_bytes(table) -> int:
        return _dir_bytes(os.path.join(table.root, "_versions")) + _dir_bytes(
            os.path.join(table.root, "_manifests")
        )

    orig_commit = LakeTable.commit

    def commit_measured(self, *args, **kwargs):
        if not tracer.enabled:
            return orig_commit(self, *args, **kwargs)
        before = meta_bytes(self)
        snap = orig_commit(self, *args, **kwargs)
        if tracer._stack:
            tracer._stack[-1].counts["meta_bytes"] = meta_bytes(self) - before
        return snap

    LakeTable.commit = commit_measured
    tracer._patches.append((LakeTable, "commit", orig_commit))

    tracer.wrap(replay_mod.ReplayEngine, "replay", "cdc.replay", after=replay_counts)
    tracer.wrap(
        replay_mod.ReplayEngine, "apply_batch", "cdc.replay.apply_batch",
        after=batch_counts,
    )
    tracer.wrap(replay_mod, "merge_upsert", "lake.merge.merge_upsert")
    tracer.wrap(merge_mod, "delta_append", "lake.merge.delta_append")
    tracer.wrap(
        LakeTable, "write_data_files", "lake.table.write_data_files",
        after=files_counts,
    )
    tracer.wrap(LakeTable, "commit", "lake.table.commit")
    tracer.wrap(LakeTable, "snapshot", "lake.table.snapshot", jobs=False)
    tracer.wrap(maintain_mod, "compact", "lake.maintain.compact")


# ---------------------------------------------------------------- status store

_UNITS = {
    "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_NUM = re.compile(r"\s*([\d.,]+)\s*([A-Za-z]*)")

# ArrowEvalPython SQL metrics (Spark 4.1 display names) -> benchmark names
UDF_METRICS = {
    "number of output rows": "udf_rows",
    "data sent to Python workers": "udf_bytes_sent",
    "time to run Python workers": "udf_s",
    "time to start Python workers": "udf_boot_s",
}


def parse_sql_metric(text: str) -> float:
    """Formatted SQL metric -> number in base units (s, bytes, rows).
    Timing and size metrics render as 'total (min, med, max ...)\\n<total>
    (...)'; sum metrics as a bare grouped number."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    udf: dict = field(default_factory=dict)

    @classmethod
    def total(cls, parts) -> "StageTotals":
        t = cls()
        for p in parts:
            t.add(p)
        return t

    def add(self, other: "StageTotals") -> None:
        for k, v in vars(other).items():
            if k == "udf":
                for n, x in v.items():
                    self.udf[n] = self.udf.get(n, 0.0) + x
            else:
                setattr(self, k, getattr(self, k) + v)


class StatusReader:
    """Reads jobs, stages and SQL executions from the driver's status store
    (filled with ``spark.ui.enabled=false``) and totals them per job group."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        it = self.store.jobsList(None).iterator()
        top = -1
        while it.hasNext():
            top = max(top, int(it.next().jobId()))
        return top

    def _stage(self, sid: int) -> StageTotals:
        from py4j.protocol import Py4JError

        t = StageTotals()
        try:
            st = self.store.lastStageAttempt(sid)
        except Py4JError:
            return t  # never materialized (skipped stage)
        if str(st.status()) != "COMPLETE":
            return t
        t.stages = 1
        t.tasks = int(st.numCompleteTasks())
        t.run_s = st.executorRunTime() / 1e3
        t.cpu_s = st.executorCpuTime() / 1e9
        t.gc_s = st.jvmGcTime() / 1e3
        t.spill_bytes = int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        t.shuffle_bytes = int(st.shuffleWriteBytes())
        t.output_bytes = int(st.outputBytes())
        return t

    def jobs(self, min_job_id: int = 0) -> list[tuple[int, str | None, list[int]]]:
        out = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = int(j.jobId())
            if jid < min_job_id:
                continue
            g = j.jobGroup()
            group = str(g.get()) if g.isDefined() else None
            sids = [int(x) for x in str(j.stageIds().mkString(",")).split(",") if x]
            out.append((jid, group, sids))
        return out

    def totals_by_group(self, min_job_id: int = 0) -> dict[str | None, StageTotals]:
        """Stage totals and Python-UDF SQL metrics per job group, over jobs
        with id >= ``min_job_id``."""
        by_group: dict[str | None, StageTotals] = {}
        group_of_job: dict[int, str | None] = {}
        seen_stage: set[int] = set()
        for jid, group, sids in self.jobs(min_job_id):
            group_of_job[jid] = group
            t = by_group.setdefault(group, StageTotals())
            t.jobs += 1
            for sid in sids:
                if sid not in seen_stage:  # a reused shuffle stage counts once
                    seen_stage.add(sid)
                    t.add(self._stage(sid))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            jids = [
                int(x) for x in str(e.jobs().keys().mkString(",")).split(",") if x
            ]
            groups = {group_of_job[j] for j in jids if j in group_of_job}
            if len(groups) != 1:
                continue
            udf = self._udf_metrics(sql, e.executionId())
            t = by_group[groups.pop()]
            for n, x in udf.items():
                t.udf[n] = t.udf.get(n, 0.0) + x
        return by_group

    @staticmethod
    def _udf_metrics(sql, execution_id) -> dict[str, float]:
        values = sql.executionMetrics(execution_id)
        out: dict[str, float] = {}
        nodes = sql.planGraph(execution_id).allNodes().iterator()
        while nodes.hasNext():
            n = nodes.next()
            if n.name() != "ArrowEvalPython":
                continue
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = UDF_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] = out.get(key, 0.0) + parse_sql_metric(str(v.get()))
        return out


# ---------------------------------------------------------------- memory

class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc. Each
    process counts its proportional set size, so pages a forked Python
    worker shares with its parent daemon are not counted twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces: ppid follows ") "
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def __enter__(self) -> "RssSampler":
        self.peak_bytes = self._tree_rss()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
