"""``jobs/run_pipeline.py``, the spark-submit entry point, run end to
end as its own process."""

import json
import os
import subprocess
import sys

from log_parser_project_spark.generate import make_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_pipeline_job_routes_every_row(spark, tmp_path):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
         "--warehouse", str(tmp_path / "wh"), "--convs", "50"],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
        env={**os.environ, "PYSPARK_SUBMIT_ARGS": "--master local[2] pyspark-shell"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, r.stdout[-2000:]
    out = json.loads(lines[0])
    assert out["mode"] == "batch"
    n_rows = make_transcripts(spark, n_convs=50).count()
    assert n_rows > 0
    assert sum(out["sink_counts"].values()) == n_rows


def test_run_pipeline_job_checkpointed_compact(spark, tmp_path):
    """``--checkpointed --compact`` compacts the table the run wrote:
    the per-group table keeps every row and its (group, route) layout."""
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.streaming.checkpoint import GROUPS_TABLE

    wh = str(tmp_path / "wh")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
         "--warehouse", wh, "--convs", "50",
         "--checkpointed", "--groups", "2", "--compact"],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
        env={**os.environ, "PYSPARK_SUBMIT_ARGS": "--master local[2] pyspark-shell"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, r.stdout[-2000:]
    out = json.loads(lines[0])
    assert out["mode"] == "checkpointed"
    assert sorted(out["processed"] + out["skipped"]) == [0, 1]

    cat = SnapshotCatalog(spark, wh)
    assert cat.snapshot(GROUPS_TABLE).lineage["stage"] == "compact"
    got = cat.read_table(GROUPS_TABLE)
    assert got.count() == make_transcripts(spark, n_convs=50).count() > 0
    assert {r.group for r in got.select("group").distinct().collect()} <= {0, 1}
