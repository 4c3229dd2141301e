"""bench.py's replay worker end to end on a tiny staged input: the worker
the scaling pairs spawn must run on the package's defaults and print a
parseable RESULT line."""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"),
               TMPDIR=str(tmp_path))
    return subprocess.run(
        [sys.executable, *args], cwd=REPO, env=env, capture_output=True,
        text=True, timeout=600,
    )


def test_replay_only_worker_reports_result(tmp_path):
    staging, n_events = str(tmp_path / "stage"), 2000
    out = _run(["-c", "import bench; bench.stage_replay_input("
                f"{staging!r}, {n_events}, 200)"], tmp_path)
    assert out.returncode == 0, out.stderr[-2000:]
    out = _run(["bench.py", "--replay-only", staging, "2"], tmp_path)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert len(lines) == 1, out.stdout[-2000:]
    res = json.loads(lines[0][len("RESULT "):])
    # the staged log carries the generator's at-least-once duplicates too
    staged = pq.read_table(os.path.join(staging, "changelog")).num_rows
    assert staged >= n_events
    assert res["events"] == staged
    assert res["final_rows"] > 0
    assert res["winner_join"]["join"] in ("broadcast", "shuffle")
