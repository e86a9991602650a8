"""Benchmark harness: headline queries + transcript-pipeline throughput.

Prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "turns_per_sec": ..., "pipeline_rows": ...}

Config via env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS`` (default all), ``BENCH_CONVS`` (default 100000).
Scaling-efficiency evidence (local[8] vs local[32]) is produced by
``bench_scaling.py`` and recorded in BENCH/BASELINE.md.

The JSON carries a ``host`` block so every run SELF-DESCRIBES the
box state it measured under (this shared VM's package clocks swing
±20–40% day to day; BENCH_r04 read 1.29× slower than r03 on unchanged
hot-path code purely from clock state, and without telemetry the run
couldn't prove that itself): 1-min load average before/after, and the
same all-cores-busy register-loop clock calibration bench_scaling.py
uses (31 pinned spinners hold the package at the bench's own
all-cores-busy power state while one core calibrates — a lone busy
core would read turbo clocks the bench never sees). ``state`` is
"nominal" when the measured clock is within 10% of the documented
idle-day value AND the box was quiet at start, "busy-start" when
clocks are fine but the 1-min load was high when the run began, and
"depressed"/"elevated" when the clocks themselves are off in either
direction — such a run's absolute seconds are comparable to other
runs only via the clock ratio.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.storagelevel import StorageLevel

from log_parser_project_spark.contract import ordered_queries
from log_parser_project_spark.generate import make_transcripts
from log_parser_project_spark.plans.pipeline import build_routed
from log_parser_project_spark.session import get_spark

QUERIES = ordered_queries()

HEADLINE = [
    "q_a9_pricing_summary",
    "q_j1_broadcast_enrich",
    "q_f1_regex_extract",
    "q_w4_lead_gap",
    "q_x28_explode_tokens",
    "q_dd_jaccard3_pairs",
    "q_dd_minhash_pairs",
    "q_sim_topk",
    "q_sim_gemm_topk",
    "q_tx_quality",
    "q_corpus_stats",
    "q_pl_routed_events",
]


# all-cores-busy register-loop rate on an idle day (Mops/core) — the
# reference the host block's clock ratio is computed against; measured
# 2026-08-21 by bench_scaling.py's validated protocol (BENCH/BASELINE.md;
# the same day's post-load-soak depressed state read 24.2).
NOMINAL_IDLE_MOPS = 33.9


def _host_probe() -> dict:
    from bench_scaling import _calibrate_clock

    return {
        "load1": round(os.getloadavg()[0], 2),
        "clock_mops": _calibrate_clock(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_convs = int(os.environ.get("BENCH_CONVS", "100000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    pre = _host_probe()  # before the JVM exists: the box we started on

    import pyspark.sql.functions as F

    spark = get_spark(app_name="bench", parallelism=cpus)

    # generic engine warmup: the first job in a fresh JVM pays scheduler /
    # codegen / shuffle-system initialization that belongs to session
    # startup, not to whichever query happens to run first
    spark.range(10_000_000).groupBy(F.pmod("id", F.lit(7))).count()

    # per-query: one untimed run (whole-stage-codegen JIT is per-plan and
    # costs ~4s on first execution), then the timed steady-state run —
    # the same warm-then-measure protocol as the pipeline and
    # bench_scaling.py measurements below
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn, _sql = QUERIES[name]
        fn(spark, sf_dir).collect()
        # best of two timed runs: single-shot timings swing 2x with
        # turbo/thermal state on a busy box; min is the steady-state
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # transcript pipeline throughput: parse → enrich → route (single
    # partitioned fan-out write) → per-sink aggregates — the real job,
    # writes included, against a throwaway warehouse.
    import shutil
    import tempfile

    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.plans.pipeline import run_pipeline

    tdf = make_transcripts(spark, n_convs=n_convs, parts=cpus * 2)
    tdf.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = tdf.count()  # materialize input outside the timed window
    # spin up the executor python workers (pandas/numpy imports) so the
    # measurement reflects steady-state, not interpreter cold start.
    # The aggregate must reference UDF-derived columns ("matched") —
    # count() alone lets Catalyst prune the ArrowEvalPython node and the
    # workers never start (the timed run would then pay ~25s cold-start).
    warm = build_routed(spark, make_transcripts(spark, n_convs=2000, parts=cpus * 2))
    warm.agg(F.sum(F.col("matched").cast("long")), F.sum(F.length("route"))).collect()

    # warm-then-measure, best of the timed trials: the write-path plan
    # reaches steady state only after ~3 executions (measured
    # 62 → 14 → 6.6 → 5.6 s: python-worker cold start on the write job,
    # per-plan codegen JIT, committer setup, page-cache state) — all
    # one-time costs a long-lived cluster job never pays per batch.
    pipeline_sec = float("inf")
    for trial in range(5):
        wh = tempfile.mkdtemp(prefix="bench_wh_")
        try:
            t0 = time.perf_counter()
            run_pipeline(spark, tdf, SnapshotCatalog(spark, wh), write_repeats=True)
            if trial > 0:
                pipeline_sec = min(pipeline_sec, time.perf_counter() - t0)
        finally:
            shutil.rmtree(wh, ignore_errors=True)
    tdf.unpersist()
    timings["pipeline_parse_route_aggregate"] = round(pipeline_sec, 3)

    post = _host_probe()
    clock = min(pre["clock_mops"], post["clock_mops"])
    host = {
        "load1_pre": pre["load1"],
        "load1_post": post["load1"],
        "clock_mops_pre": pre["clock_mops"],
        "clock_mops_post": post["clock_mops"],
        "nominal_idle_mops": NOMINAL_IDLE_MOPS,
        "clock_ratio_vs_nominal": round(clock / NOMINAL_IDLE_MOPS, 3),
        # "depressed"/"elevated": package clocks more than 10% below/
        # above the idle-day value — absolute seconds are not
        # comparable to other runs without the clock ratio (an elevated
        # run reads faster with no code change, the same confusion in
        # the other direction). "busy-start": clocks fine but the box
        # wasn't quiet when the run began (competing load can inflate
        # individual timings even at nominal clocks). "nominal": both
        # clean — seconds are directly comparable across nominal runs.
        "state": (
            "depressed"
            if clock < 0.9 * NOMINAL_IDLE_MOPS
            else (
                "elevated"
                if clock > 1.1 * NOMINAL_IDLE_MOPS
                else ("nominal" if pre["load1"] < 4.0 else "busy-start")
            )
        ),
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline queries + transcript parse->route->aggregate wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "pipeline_rows": n_rows,
                "turns_per_sec": round(n_rows / pipeline_sec, 1),
                "cpus": cpus,
                "host": host,
            }
        )
    )


if __name__ == "__main__":
    main()
