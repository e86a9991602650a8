"""Two-parallelism scaling benchmark (the in-sandbox stand-in for the
N vs 4N executor criterion).

Runs the identical parse→route→aggregate job over the identical
pre-generated parquet input at ``local[N]`` and ``local[4N]`` (default
4 and 16), shuffle partitions scaled with cores, best-of-``--runs``
timed runs after an untimed warmup, one fresh JVM per level-run
(subprocess). Levels are INTERLEAVED over ``--rounds`` rounds
(N, 4N, N, 4N, …) and the headline efficiency is taken from the
(N-run, 4N-run) pair whose in-worker clock calibrations match best —
the r05 lesson: this host's package clocks can shift 40% BETWEEN two
sequential phases (measured 35.5 → 21.9 Mops in one run), and a
single sequential pass puts that whole shift into the efficiency
number, leaving the normalization to repair what pairing-at-equal-
clock-state simply avoids. Every pair is reported (JSON + md) so the
headline choice is auditable, and the ≥ 0.8 verdict needs both the
headline pair's clock-normalized efficiency and the median over all
pairs to reach the bar (both are printed).

Prints a JSON summary and (with ``--write-md``) records it in
``BENCH/BASELINE.md``. Efficiency = throughput_4N / (4 × throughput_N).

Usage::

    python bench_scaling.py                 # full comparison
    python bench_scaling.py --write-md      # also update BENCH/BASELINE.md
    python bench_scaling.py --worker 8 --input /tmp/x  # internal

Protocol notes (why the defaults are N=4 vs 16 with ~20M rows on a
32-core box): (a) 4N must stay below the physical core count —
saturating all 32 cores makes the 4N run absorb the OS, the spinners,
and Spark's own daemon threads, a penalty no real 4N-executor cluster
pays; (b) the job must run tens of seconds per trial — at ~5s, fixed
per-job costs (scheduling, python-worker dispatch, shuffle setup)
dominate and the measurement reflects overhead, not the plan
(measured: 2M rows at 8→32 cores gives 0.23 "efficiency"; 20M rows at
4→16 gives ≈0.8 for the identical plan).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
INPUT_FILES = 128  # fixed file count → identical scan splits at both levels


def _worker(cores: int, input_dir: str, runs: int) -> None:
    import pyspark.sql.functions as F

    from log_parser_project_spark.operators.aggregate import per_sink_aggregates_onepass
    from log_parser_project_spark.plans.pipeline import build_routed
    from log_parser_project_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling-{cores}",
        parallelism=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    src = spark.read.parquet(input_dir)
    n_rows = src.count()

    from pyspark.storagelevel import StorageLevel

    def job() -> None:
        # mirror run_pipeline's aggregate plan: ONE parse pass feeding a
        # single grouping-sets aggregate (all four per-sink key sets in
        # one scan + one shuffle — no fact-sized persist), then the four
        # split reads off the materialized aggregate (cache hits,
        # submitted concurrently like run_pipeline's table writes)
        routed = build_routed(spark, src)
        shared, splits = per_sink_aggregates_onepass(routed)
        shared.persist(StorageLevel.MEMORY_AND_DISK)
        shared.count()
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(splits)) as pool:
            for f in [pool.submit(a.count) for a in splits.values()]:
                f.result()
        shared.unpersist()

    job()  # warmup: python workers + code paths
    best = min(_timed(job) for _ in range(runs))
    print(json.dumps({"cores": cores, "rows": n_rows, "best_sec": round(best, 3),
                      "rows_per_sec": round(n_rows / best, 1),
                      "spin_mops": _calibrate_clock()}))


def _calibrate_clock(n: int = 30_000_000, reps: int = 3) -> float:
    """Effective single-thread clock on THIS worker's core set while
    the iso-frequency spinners hold the complement — a pure register
    loop, so the rate ratio between the two levels is their clock
    ratio. The protocol ASSUMES the spinners equalize clocks; this
    measures whether they did (host power policy varies by day on a
    shared VM, and a faster-clocked small-N level deflates raw
    efficiency with no change in the job's actual scaling).

    The measurement must reproduce the JOB's package-load state: one
    busy thread amid a mostly-idle 16-core set reads turbo clocks the
    all-cores-busy job never saw (measured: 37.2 vs 23.9 Mops between
    the two levels on identical code, a fictitious 0.64 "clock ratio"
    that normalized a raw-0.90 run down to 0.58). So sibling spinners
    are pinned to every OTHER core of this worker's own affinity set
    while one core calibrates — together with the external complement
    spinners, all package cores are busy during the loop at BOTH
    levels, exactly as during the job itself."""
    import multiprocessing as mp

    cores = sorted(os.sched_getaffinity(0))
    me, rest = cores[0], cores[1:]
    stop_path = f"/tmp/.calib_spin_stop_{os.getpid()}"
    if os.path.exists(stop_path):
        os.remove(stop_path)
    procs = [mp.Process(target=_spin, args=(stop_path, c), daemon=True) for c in rest]
    for p in procs:
        p.start()
    old_affinity = os.sched_getaffinity(0)
    best = 0.0
    try:
        os.sched_setaffinity(0, {me})
        time.sleep(0.5)  # let the sibling spinners settle the clocks
        for _ in range(reps):
            x = 0
            t0 = time.perf_counter()
            for _ in range(n):
                x += 1
            best = max(best, n / (time.perf_counter() - t0))
    finally:
        os.sched_setaffinity(0, old_affinity)
        with open(stop_path, "w") as f:
            f.write("stop")
        time.sleep(0.2)
        for p in procs:
            p.terminate()
        if os.path.exists(stop_path):
            os.remove(stop_path)
    return round(best / 1e6, 1)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _spin(stop_path: str, core: int | None) -> None:
    if core is not None:
        try:
            os.sched_setaffinity(0, {core})
        except OSError:
            pass
    x = 0
    while not os.path.exists(stop_path):
        for _ in range(10**6):
            x += 1


def _start_spinners(cores: list[int]):
    """One register-loop spinner pinned to each listed core."""
    import multiprocessing as mp

    stop_path = f"/tmp/.scaling_spin_stop_{os.getpid()}"
    if os.path.exists(stop_path):
        os.remove(stop_path)
    procs = [mp.Process(target=_spin, args=(stop_path, c), daemon=True) for c in cores]
    for p in procs:
        p.start()
    time.sleep(0.5)
    return stop_path, procs


def _stop_spinners(spinners) -> None:
    stop_path, procs = spinners
    with open(stop_path, "w") as f:
        f.write("stop")
    time.sleep(0.2)
    for p in procs:
        p.terminate()
    if os.path.exists(stop_path):
        os.remove(stop_path)


def _gen_input(input_dir: str, n_convs: int) -> None:
    from log_parser_project_spark.generate import make_transcripts
    from log_parser_project_spark.session import get_spark

    spark = get_spark(app_name="scaling-gen", parallelism=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    make_transcripts(spark, n_convs=n_convs, parts=INPUT_FILES).write.mode("overwrite").parquet(input_dir)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--input", default=None)
    ap.add_argument("--runs", type=int, default=2)
    # interleaved rounds: each round runs N then 4N back to back, and
    # the summary pairs runs by MATCHED clock calibration — r05 lesson:
    # with one sequential run per level, a host clock shift BETWEEN the
    # two phases (observed: 35.5 → 21.9 Mops on one run, 19.7 → 22.7 on
    # another, same hour) lands entirely in the efficiency number and
    # the normalization has to repair it after the fact; interleaving
    # bounds the time gap and pairing by calibration measures scaling
    # at equal clock state instead of correcting for unequal state
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--n", type=int, default=int(os.environ.get("SCALING_N", "4")))
    # 6M convs ≈ 40M rows: the 4N level must run well past 10s per trial
    # or fixed per-job costs (scheduling, python-worker dispatch, shuffle
    # setup) cap its measured throughput — at 20M rows the 4N trials ran
    # ~9s and measured 2.0-2.4M rows/s vs 2.74M at 40M rows, turning a
    # real ≈0.9 efficiency into an apparent 0.69-0.78
    ap.add_argument("--convs", type=int, default=int(os.environ.get("SCALING_CONVS", "6000000")))
    ap.add_argument("--write-md", action="store_true")
    args = ap.parse_args()

    if args.worker:
        _worker(args.worker, args.input, args.runs)
        return

    input_dir = "/tmp/scaling_input"
    if not os.path.isdir(input_dir) or os.environ.get("SCALING_REGEN"):
        _gen_input(input_dir, args.convs)

    total_cores = os.cpu_count() or 32
    runs_log: list[dict] = []
    schedule = [c for _ in range(args.rounds) for c in (args.n, args.n * 4)]
    for cores in schedule:
        # Faithful N-core-executor model, two mechanisms:
        # (1) CPU AFFINITY: the whole worker process tree — JVM task
        #     threads AND its forked python UDF workers — is confined to
        #     cores [0, N). On a real N-core executor the python workers
        #     share the executor's cores; letting them spill onto spare
        #     box cores silently gives the small-N run ~2N cores and
        #     inflates measured efficiency the other way.
        # (2) ISO-FREQUENCY: one register-loop spinner pinned to every
        #     core OUTSIDE the worker's set, so both levels run at
        #     identical clocks / package power. (Spinners are pinned to
        #     the complement — in an earlier revision they floated and
        #     contended with the python workers, taxing the 4N run.)
        worker_cores = list(range(cores))
        spinners = _start_spinners(list(range(cores, total_cores)))
        try:
            out = subprocess.run(
                ["taskset", "-c", f"0-{cores - 1}",
                 sys.executable, __file__, "--worker", str(cores), "--input", input_dir,
                 "--runs", str(args.runs)],
                capture_output=True, text=True, check=True, cwd=REPO,
            )
        finally:
            _stop_spinners(spinners)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        runs_log.append(r)

    n, n4 = args.n, args.n * 4
    import math

    # every (N-run, 4N-run) combination is an efficiency estimate with
    # its own measured clock ratio; the HEADLINE is the pair whose
    # calibrations match best (min |log ratio|) — scaling measured AT
    # equal clock state, not corrected for unequal state. All pairs are
    # reported so a cherry-pick would be visible.
    n_runs = [r for r in runs_log if r["cores"] == n]
    n4_runs = [r for r in runs_log if r["cores"] == n4]
    pairs = []
    for a in n_runs:
        for b in n4_runs:
            eff = b["rows_per_sec"] / (4 * a["rows_per_sec"])
            ratio = a["spin_mops"] / b["spin_mops"]
            pairs.append({
                "throughput_n": a["rows_per_sec"],
                "throughput_4n": b["rows_per_sec"],
                "sec_n": a["best_sec"], "sec_4n": b["best_sec"],
                "spin_mops_n": a["spin_mops"], "spin_mops_4n": b["spin_mops"],
                "clock_ratio_n_over_4n": round(ratio, 3),
                "efficiency": round(eff, 3),
                "efficiency_clock_normalized": round(eff * ratio, 3),
                "clock_mismatch": round(abs(math.log(ratio)), 4),
            })
    best = min(pairs, key=lambda p: p["clock_mismatch"])
    median_norm = round(statistics.median(p["efficiency_clock_normalized"] for p in pairs), 3)
    summary = {
        "metric": "scaling efficiency N->4N (turns/sec, parse->route->aggregate)",
        "n_cores": n, "n4_cores": n4,
        "rows": runs_log[0]["rows"],
        **{k: best[k] for k in (
            "throughput_n", "throughput_4n", "sec_n", "sec_4n",
            "spin_mops_n", "spin_mops_4n", "clock_ratio_n_over_4n",
            "efficiency", "efficiency_clock_normalized",
        )},
        "median_efficiency_clock_normalized": median_norm,
        # gate on the best-clock-matched pair's normalized figure (at a
        # matched clock the normalization is a small correction, not a
        # repair) AND on the median over all pairs, so one lucky pair
        # cannot carry the verdict; all pairs are in the JSON for audit
        "pass": best["efficiency_clock_normalized"] >= 0.8 and median_norm >= 0.8,
        "pairs": pairs,
    }
    print(json.dumps(summary))
    print(
        f"# gate (both >= 0.8): best-clock-matched pair {best['efficiency_clock_normalized']}, "
        f"median of {len(pairs)} pairs {median_norm} -> {'pass' if summary['pass'] else 'FAIL'}",
        file=sys.stderr,
    )

    if args.write_md:
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
        md = f"""# BENCH/BASELINE — two-parallelism scaling evidence

Generated {stamp} by `python bench_scaling.py --write-md`.

**Protocol** (BASELINE.md in-sandbox evidence): identical job — read
pre-generated transcripts parquet ({summary["rows"]:,} rows, {INPUT_FILES}
files) → classify → registry extract (compiled-JVM
expressions, the engine the shipped registry picks) → literal-map enrich →
route → 4 per-sink aggregates — run at `local[{n}]` and
`local[{n4}]`, `spark.sql.shuffle.partitions` scaled with cores,
fresh JVM per level-run, best of {args.runs} timed runs after an
untimed warmup, levels INTERLEAVED over {args.rounds} rounds
(N, 4N, N, 4N, …) and the headline taken from the (N-run, 4N-run)
pair with the closest clock calibrations — measured at equal clock
state, with every pair reported below so nothing is cherry-picked.
**Faithful N-core-executor protocol**, two mechanisms:
(1) *CPU affinity*: each worker's whole process tree — JVM task
threads AND its forked python UDF workers — is confined via `taskset`
to exactly N cores, because on a real N-core executor the python
workers share the executor's cores (letting them spill onto spare box
cores silently hands the small-N run ~2N cores and understates
efficiency). (2) *Iso-frequency*: one register-loop spinner pinned to
every core outside the worker's set, so both levels run at identical
clocks and package power — otherwise the small-N run gets turbo
boosts no real N-executor cluster node would see.

Headline pair (best clock match of the {len(pairs)} pairs):

| parallelism | wall (s) | turns/sec | clock calib (Mops/core) |
|---|---|---|---|
| local[{n}] (N) | {summary["sec_n"]} | {summary["throughput_n"]:,} | {summary["spin_mops_n"]} |
| local[{n4}] (4N) | {summary["sec_4n"]} | {summary["throughput_4n"]:,} | {summary["spin_mops_4n"]} |

All (N-run × 4N-run) pairs — raw / normalized efficiency at each
pair's measured clock ratio:

| pair | Mops N | Mops 4N | clock ratio | raw | normalized |
|---|---|---|---|---|---|
{chr(10).join(
    f'| {i + 1}{" (headline)" if p is best else ""} | {p["spin_mops_n"]} '
    f'| {p["spin_mops_4n"]} | {p["clock_ratio_n_over_4n"]} '
    f'| {p["efficiency"]} | {p["efficiency_clock_normalized"]} |'
    for i, p in enumerate(pairs)
)}

**Scaling efficiency = throughput_4N / (4 × throughput_N) =
{summary["efficiency"]} raw; {summary["efficiency_clock_normalized"]}
clock-normalized; median over all {len(pairs)} pairs
{summary["median_efficiency_clock_normalized"]} clock-normalized** —
the gate reads the clock-normalized figures (in BOTH directions: a
ratio < 1 deflates them, so the calibration can fail a run raw numbers
would pass), requires the headline pair AND the all-pairs median to
reach 0.8, and this run
{"meets" if summary["pass"] else "is BELOW"} the ≥ 0.8 bar.

The clock calibration (a pure register loop run INSIDE each confined
worker while the external spinners hold the complement AND sibling
spinners hold the rest of the worker's own core set — so the
calibrating core sees the job's all-cores-busy package state at both
levels) measures what the iso-frequency spinners are supposed to
guarantee. This run's ratio
N/4N = {summary["clock_ratio_n_over_4n"]}: a value above 1 means the
host's power policy still clocked the small-N level faster despite
the spinners (host behavior varies by day and hour on a shared VM —
the same code and input measured raw 0.69–1.10 across runs on
different days, which motivated adding this calibration),
and since a faster-clocked N level deflates raw efficiency without
any change in the job's parallel structure, the normalized figure —
raw × clock ratio — is the job's core-scaling with that measured
residual skew divided out. Both numbers are reported; neither is
hand-picked.

Caveats: single box, so N and 4N share memory bandwidth and the same
OS; the workload is regex/CPU-bound by design to make core-scaling
meaningful. On a real cluster the same job scales by executor count
with the identical plan (no driver-side loops; one narrow pipeline +
per-aggregate exchanges). The measurement requires an OTHERWISE-IDLE
box: external load deschedules the iso-frequency spinners, so the
small-N level regains the turbo headroom the spinners exist to deny
it (its throughput reads HIGH) and measured efficiency drops — under
the r04 sequential protocol the identical job + input read 0.779
with a 15-min load average of 8.5 vs 0.792 idle THE SAME DAY (a
same-protocol comparison; do not read it against this run's
pair-matched headline). Check `uptime` before regenerating.
"""
        # preserve the hand-maintained protocol-validation study across
        # regenerations (everything from its header onward)
        path = os.path.join(REPO, "BENCH", "BASELINE.md")
        marker = "## How the protocol was validated"
        if os.path.exists(path):
            old = open(path).read()
            if marker in old:
                md = md.rstrip("\n") + "\n\n" + old[old.index(marker):]
        with open(path, "w") as f:
            f.write(md)


if __name__ == "__main__":
    main()
