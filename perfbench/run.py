#!/usr/bin/env python3
"""Repo benchmark for the CDC replay engine.

    python3 perfbench/run.py --workload tail_cow --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process at ``local[nproc]`` builds
a session, opens a copy of the staged base table and drives the engine's
public API in a closed loop: the next tick is issued only after the previous
``replay()`` returned. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it records the host and every raw sample. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def _parse(argv):
    from workloads import SPECS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SPECS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="size factor for the workload's inputs (tests use a tiny one)",
    )
    return p.parse_args(argv)


def _require_repo() -> None:
    missing = [
        p for p in ("tg_data_connector_spark/__init__.py", "tests/oracle.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        sys.stderr.write(f"perfbench: not in a repository checkout (missing {missing})\n")
        sys.exit(2)


def _start_session(run_dir: str, nproc: int):
    """Host-fit session: local[nproc], bounded driver heap, every scratch
    directory inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    from tg_data_connector_spark.session import get_spark
    from workloads import N_BUCKETS

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=N_BUCKETS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap keeps the JVM's share of peak_rss_mb from
            # following heap-resize decisions
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def _warm_workers(spark, nproc: int) -> None:
    """Start one Python worker per lane through the engine's decode UDF."""
    from pyspark.sql import functions as F
    from tg_data_connector_spark.cdc.parse import decode_tokens

    spark.range(0, 64 * nproc, 1, nproc).select(
        decode_tokens(F.lit(bytearray(b"\x00\x00\x00\x01"))).alias("t")
    ).write.format("noop").mode("overwrite").save()


def _end_to_end(s, setup_s: float, rss_bytes: int) -> dict:
    from workloads import median

    untraced = [i for i, t in enumerate(s.batch_traced) if not t]
    ev = sum(s.batch_events[i] for i in untraced)
    wall = sum(s.batch_s[i] for i in untraced)
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (ev / wall, "1/s"),
        "batch_latency_s_p50": (median([s.batch_s[i] for i in untraced]), "s"),
        "read_latency_s_p50": (median(s.read_s), "s"),
        "lookup_latency_s_p50": (median(s.lookup_s), "s"),
        "compact_s": (median(s.compact_s), "s"),
        "storage_bytes_per_row": (s.storage_bytes / max(s.live_rows, 1), "B/row"),
        "peak_rss_mb": (rss_bytes / 2**20, "MiB"),
    }


def _per_layer(tracer, totals: dict, s, session_s: float) -> dict:
    from spans import GROUP_PREFIX, StageTotals, self_time
    from workloads import median

    kids = tracer.children()

    def stage_totals(spans) -> StageTotals:
        t = StageTotals()
        for sp in spans:
            got = totals.get(f"{GROUP_PREFIX}{sp.id}")
            if got is not None:
                t.add(got)
        return t

    def named(spans, name):
        return [sp for sp in spans if sp.name == name]

    ops = s.tick_spans
    n = max(len(ops), 1)
    batch = [tracer.subtree(sp, kids) for sp in ops]
    flat = [sp for tree in batch for sp in tree]
    bt = stage_totals(flat)
    applies = named(flat, "cdc.replay.apply_batch")
    events = sum(sp.counts.get("events", 0) for sp in applies)
    winners = sum(sp.counts.get("winners", 0) for sp in applies)
    writes = named(flat, "lake.table.write_data_files")
    commits = named(flat, "lake.table.commit")
    snaps = named(flat, "lake.table.snapshot")

    compacts = named(tracer.spans, "lake.maintain.compact")
    ct = stage_totals([x for c in compacts for x in tracer.subtree(c, kids)])
    everything = StageTotals.total(totals.values())

    traced_s = [x for x, t in zip(s.batch_s, s.batch_traced) if t]
    untraced_s = [x for x, t in zip(s.batch_s, s.batch_traced) if not t]
    coverage = [
        1.0 - self_time(sp, kids) / wall
        for sp, wall in zip(ops, traced_s)
    ]
    return {
        "session.start_s": (session_s, "s"),
        "replay.prepass_s": (
            sum(sp.counts.get("prepass_s", 0.0) for sp in named(flat, "cdc.replay")) / n, "s"
        ),
        "replay.driver_self_s": (sum(self_time(sp, kids) for sp in applies) / n, "s"),
        "replay.jobs_per_batch": (bt.jobs / n, "count"),
        "replay.stages_per_batch": (bt.stages / n, "count"),
        "replay.tasks_per_batch": (bt.tasks / n, "count"),
        "dedup.winners_per_event": (winners / max(events, 1), "ratio"),
        "dedup.events_per_batch": (events / n, "count"),
        "parse.udf_rows": (bt.udf.get("udf_rows", 0.0) / n, "count"),
        "parse.udf_bytes_sent": (bt.udf.get("udf_bytes_sent", 0.0) / n, "B"),
        "parse.udf_s": (bt.udf.get("udf_s", 0.0) / n, "s"),
        "parse.udf_boot_s": (bt.udf.get("udf_boot_s", 0.0) / n, "s"),
        "merge.write_s": (sum(sp.dur for sp in writes) / n, "s"),
        "merge.shuffle_bytes": (bt.shuffle_bytes / n, "B"),
        "merge.rows_written_per_winner": (
            sum(sp.counts.get("rows", 0) for sp in writes) / max(winners, 1), "ratio"
        ),
        "merge.files_written": (sum(sp.counts.get("files", 0) for sp in writes) / n, "count"),
        "merge.commit_retries": (
            sum(1 for sp in commits if sp.error == "CommitConflict"), "count"
        ),
        "table.commit_s": (sum(sp.dur for sp in commits) / n, "s"),
        "table.snapshot_calls": (len(snaps) / n, "count"),
        "table.snapshot_s": (sum(sp.dur for sp in snaps) / n, "s"),
        "table.metadata_bytes_per_commit": (
            sum(sp.counts.get("meta_bytes", 0) for sp in commits) / max(len(commits), 1),
            "B",
        ),
        "table.read_files": (median([f for f, _ in s.read_scans]), "count"),
        "table.read_input_bytes": (median([b for _, b in s.read_scans]), "B"),
        "table.lookup_input_bytes": (median([b for _, b in s.lookup_scans]), "B"),
        "maintain.compact_s": (sum(sp.dur for sp in compacts) / max(len(compacts), 1), "s"),
        "maintain.bytes_rewritten": (ct.output_bytes / max(len(compacts), 1), "B"),
        "exec.run_s": (bt.run_s / n, "s"),
        "exec.cpu_s": (bt.cpu_s / n, "s"),
        "exec.gc_s": (bt.gc_s / n, "s"),
        "exec.spill_bytes": (bt.spill_bytes / n, "B"),
        "exec.cpu_over_run": (everything.cpu_s / max(everything.run_s, 1e-9), "ratio"),
        "trace.overhead_frac": (
            median(traced_s) / median(untraced_s) - 1.0 if untraced_s else 0.0, "ratio"
        ),
        "trace.coverage_min": (min(coverage) if coverage else 0.0, "ratio"),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    _require_repo()
    sys.path.insert(0, ROOT)
    from spans import (
        RssSampler, StageTotals, StatusReader, Tracer, install_engine_spans,
    )
    from workloads import SPECS, Runner, Stage

    spec = SPECS[args.workload].scaled(args.scale)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", "run", str(os.getpid()))
    cache_dir = os.path.join(ROOT, ".perfbench", "stage")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    min_ops = 2 if args.trace else 1
    stage = Stage(cache_dir, args.workload, spec, args.seed)
    his = [spec.final_hi(args.seconds, min_ops)]
    load0 = os.getloadavg()[0]
    cpu0 = _cpu_ticks()
    spark = None
    try:
        with RssSampler() as rss:
            # -- set-up: session start, worker warm-up, table open ----------
            t0 = time.perf_counter()
            spark = _start_session(run_dir, nproc)
            session_s = time.perf_counter() - t0
            _warm_workers(spark, nproc)
            setup_s = time.perf_counter() - t0
            # untimed: generator and oracle work on a cache miss
            t_stage = time.perf_counter()
            staged = not stage.ready(his)
            if staged:
                stage.ensure(spark, ROOT, his)
            stage_s = time.perf_counter() - t_stage
            t0 = time.perf_counter()
            tracer = None
            if args.trace:
                tracer = Tracer(spark.sparkContext)
                install_engine_spans(tracer)
            runner = Runner(spark, ROOT, run_dir, stage, tracer)
            table, eng = runner.open_table("bulk" if spec.ticks == 1 else "tail")
            setup_s += time.perf_counter() - t0
            status = StatusReader(spark)
            first_job = status.max_job_id() + 1
            t_run = time.perf_counter()
            if spec.ticks == 1:
                runner.run_bulk(args.seconds, min_ops)
            else:
                runner.run_tail(table, eng, args.seconds, min_ops)
            if tracer is not None:
                tracer.enabled = False
                tracer.unpatch()
            run_s = time.perf_counter() - t_run
            t_status = time.perf_counter()
            totals = status.totals_by_group(first_job)
            status_s = time.perf_counter() - t_status
        s = runner.s
        all_stages = StageTotals.total(totals.values())
        host = {
            "nproc": nproc,
            "loadavg_1m": [round(load0, 2), round(os.getloadavg()[0], 2)],
            "driver_mem": DRIVER_MEM,
            "cpu_steal_frac": _steal_frac(cpu0, _cpu_ticks()),
            "exec.cpu_over_run": round(all_stages.cpu_s / max(all_stages.run_s, 1e-9), 4),
            "staged_this_run": staged,
            "stopped_early": s.stopped_early,
            "stage_s": round(stage_s, 2),
            "workload_s": round(run_s, 2),
            "status_read_s": round(status_s, 2),
            **{k: round(v, 2) for k, v in s.phases.items()},
        }
        if args.trace:
            metrics = _per_layer(tracer, totals, s, session_s)
        else:
            metrics = _end_to_end(s, setup_s, rss.peak_bytes)
        samples = {
            "batch_s": [round(x, 4) for x in s.batch_s],
            "batch_traced": s.batch_traced,
            "read_s": [round(x, 4) for x in s.read_s],
            "lookup_s": [round(x, 4) for x in s.lookup_s],
            "compact_s": [round(x, 4) for x in s.compact_s],
            "checks": s.checks,
        }
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "host": host, "samples": samples}))
        attempted = max(s.attempted, 1)
        print(json.dumps({
            "correct": s.correct,
            "attempted": attempted,
            "failed": 0 if s.correct else attempted,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM (its Python workers exit with
    it), and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(a: list[int], b: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests during the run
    (field 8 of the aggregate /proc/stat line)."""
    d = [y - x for x, y in zip(a, b)]
    return round(d[7] / max(sum(d), 1), 4) if len(d) > 7 else 0.0


if __name__ == "__main__":
    sys.exit(main())
