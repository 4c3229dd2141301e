"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q      (from the repository root, ~4 min)

A tiny-size run of every workload (the two in BENCHMARK.json and
``tail_cow``) must print every metric BENCHMARK.json names, with its unit, in
both modes; and the oracle check must fail a table in which one row was
altered.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

from workloads import SPECS  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SPECS))
def test_tiny_run_emits_every_metric(workload, trace):
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "3", "--seconds", "1", "--trace", str(trace),
            "--scale", "0.02",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    want = _bench()["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_altered_row_fails_oracle_check(tmp_path):
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pyspark.sql import functions as F
    from tg_data_connector_spark.lake.merge import merge_upsert
    from tg_data_connector_spark.session import get_spark
    from workloads import Runner, Stage

    spark = get_spark(app_name="perfbench_test", master="local[2]", shuffle_partitions=4)
    stage = Stage(str(tmp_path / "stage"), "tail_cow", SPECS["tail_cow"].scaled(0.02), 5)
    hi = stage.bounds(0)[2]
    stage.ensure(spark, ROOT, [hi])
    runner = Runner(spark, ROOT, str(tmp_path / "run"), stage, tracer=None)
    table, eng = runner.open_table("t")
    eng.replay(runner.tick_df(0), run_id="tick0", bounds=stage.bounds(0))
    runner.check(table, hi)
    assert runner.s.correct

    # one live row rewritten through the lake's own merge: same key and
    # source, different tokens, a version newer than any in the log
    altered = table.read().orderBy("doc_id").limit(1).select(
        "doc_id",
        F.array(F.lit(7)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        "source",
        F.lit("U").alias("op"),
        F.lit(2**62).cast("bigint").alias("commit_lsn"),
        F.lit(0).cast("bigint").alias("seq_no"),
    )
    merge_upsert(table, altered)
    runner.check(table, hi)
    assert not runner.s.correct
    expected, got = runner.s.checks[-1]
    assert expected[0] == got[0] and expected[1] != got[1]  # same rows, one differs
