#!/usr/bin/env python3
"""Transcript-pipeline benchmark.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (README.md has the detail):

* ``backfill_short_turns`` — ``run_pipeline`` over fixture-shaped short
  turns with the shipped registry (``auto`` → compiled-JVM extractor);
* ``backfill_long_turns`` — ``run_pipeline`` over kilobyte-long agent
  turns with a Python-``re`` shorthand registry (``auto`` → pandas UDF);
* ``ingest_and_query`` — one closed-loop client appending time-local
  micro-batches (``build_routed`` → append commit) with time-windowed
  ``read_sink`` queries between appends.

Each run builds its inputs from ``--seed``, starts one ``local[nproc]``
session, runs an untimed warm-up, measures whole rounds until
``--seconds`` have passed (at least two backfills, or one round of
appends), checks every output against the generator's
ledger and prints one JSON line last: end-to-end metrics with
``--trace 0``, per-layer metrics (from spans around the program's public
calls) with ``--trace 1``. The exit code is 0 only when every check
passed and no operation raised.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# input sizes (turns); README.md has the make-up
BACKFILL_TURNS = {"short": 60_000, "long": 40_000}
WARM_TURNS = 3_000  # the cold warm-up backfill
MIN_PIPELINES = 2  # measured backfills per run, however short --seconds is
BATCHES, BATCH_TURNS, BATCH_SPAN_S = 4, 1_500, 600  # one ingest round
WARM_BATCHES = 3  # untimed appends before the measured round
# every sink is queried BACKFILL_QUERIES times after each backfill and
# INGEST_QUERIES times after each micro-batch append. One window length
# (s) per workload: a median over two window sizes sits between their
# modes.
BACKFILL_QUERIES, INGEST_QUERIES = 4, 2
BACKFILL_WINDOW_S = 3600
INGEST_WINDOW_S = 900
N_FILES = 8  # input files per table, so the scan splits across every core
SAMPLE_CONVS = 40  # conversations compared field by field

perf = time.perf_counter


def utc(epoch_s: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)


def iso(epoch_s: float) -> str:
    """The naive ISO string a user types for a UTC instant (the session
    time zone is UTC): '2026-03-01T00:10:00', or with milliseconds when
    the instant has a fraction."""
    spec = "seconds" if epoch_s == int(epoch_s) else "milliseconds"
    return utc(epoch_s).replace(tzinfo=None).isoformat(timespec=spec)


def query_plan(rng: random.Random, sinks, length: int, lo: int, hi: int) -> list[tuple[str, int, int]]:
    """One (sink, start, end) query per sink, in seeded order, each
    window ``length`` seconds long and starting uniformly in
    [lo, hi - length]: every round asks the same mix of queries, only
    their order and placement follow the seed."""
    order = list(sinks)
    rng.shuffle(order)
    out = []
    for sink in order:
        start = lo + rng.randrange(max(1, hi - lo - length))
        out.append((sink, start, start + length))
    return out


class Run:
    """State of one benchmark run: the session, spans, timings and the
    outcome of every operation and check."""

    def __init__(self, args, work: str):
        from harness import Tracer

        self.args = args
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.queries_ms: list[float] = []
        self.spark = None

    # -- operations ------------------------------------------------------
    def op(self, fn, *a, **kw):
        """Run one measured operation. One that raises counts as failed
        and fails the run."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:
            self.failed += 1
            self.problems.append(f"{getattr(fn, '__name__', fn)} raised {e.__class__.__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    def query(self, cat, index, committed: int, sink: str, lo: float, hi: float,
              as_iso: bool = False, record: bool = True):
        """One time-windowed sink query, timed from the ``read_sink``
        call to its collected count, checked against the ledger rows of
        the first ``committed`` batches in ``index``. The bounds go in
        as UTC datetimes, or with ``as_iso`` as naive ISO strings."""
        import checks
        from log_parser_project_spark.plans.pipeline import STAGING_TABLE, read_sink

        bounds = (iso(lo), iso(hi)) if as_iso else (utc(lo), utc(hi))
        t0 = perf()
        df = read_sink(cat, sink, bounds)
        t1 = perf()
        got = df.count()
        t2 = perf()
        self.problems += checks.check_query(index, sink, lo, hi, committed, got)
        if not record:
            return
        self.queries_ms.append((t2 - t0) * 1e3)
        tr = self.tracer
        if tr.enabled:
            q = tr.span("query", t0, t2, sink=sink)
            tr.span("catalog.read_plan", t0, t1, parent=q)
            tr.span("catalog.query_exec", t1, t2, parent=q)
            tr.count("catalog.files_per_query", len(df.inputFiles()))
            tr.count("catalog.manifest_entries", len(cat.snapshot(STAGING_TABLE).state))

    def queries(self, cat, index, committed: int, plan) -> None:
        """``plan``'s queries, every other one with ISO-string bounds.
        Those are widened by half a second on each side: they ask for
        the same rows (every ``ts`` is a whole second), and no bound can
        equal the smallest ``ts`` of a file, the case ``edge_query``
        keeps apart."""
        for j, (sink, lo, hi) in enumerate(plan):
            if j % 2:
                self.op(self.query, cat, index, committed, sink, lo - 0.5, hi + 0.5, as_iso=True)
            else:
                self.op(self.query, cat, index, committed, sink, lo, hi)

    def edge_query(self, cat, index, committed: int, hi: int, length: int) -> None:
        """``read_sink`` of ``sink_errors`` over ``[hi - length, hi]``
        with naive ISO-string bounds, where ``hi`` is the ts of an edge
        row and so the smallest ts of the staging file holding it.
        While the fault named in CHANGES.md (FOUND: ``read_sink`` with
        ISO-string bounds) stands, the file is pruned and this query
        returns too few rows in every run, whatever the seed: a wrong
        count counts the operation as failed, not as a failed check.
        Not timed."""
        import checks
        from log_parser_project_spark.plans.pipeline import read_sink

        self.attempted += 1
        try:
            got = read_sink(cat, "sink_errors", (iso(hi - length), iso(hi))).count()
        except Exception as e:
            self.failed += 1
            self.problems.append(f"edge query raised {e.__class__.__name__}: {e}")
            return
        wrong = checks.check_query(index, "sink_errors", hi - length, hi, committed, got)
        if wrong:
            self.failed += 1
            print(f"# failed operation (read_sink ISO-bound pruning): {wrong[0]}", file=sys.stderr)

    # -- per-layer probes (traced runs only) -----------------------------
    def probe_layers(self, input_path: str, patterns, cat) -> None:
        """Force the lazy layers through a no-op sink so each gets a
        time: the scan alone, the narrow plan (``build_routed``), and
        the one-pass grouping-sets aggregate over the committed fact."""
        from log_parser_project_spark.metrics import get_safe, observed
        from log_parser_project_spark.operators.aggregate import per_sink_aggregates_onepass
        from log_parser_project_spark.plans.pipeline import STAGING_TABLE, build_routed

        spark, tr = self.spark, self.tracer

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        t0 = perf()
        noop(spark.read.parquet(input_path))
        t1 = perf()
        routed, obs = observed(build_routed(spark, spark.read.parquet(input_path), patterns=patterns))
        noop(routed)
        t2 = perf()
        m = get_safe(obs)
        tr.span("scan", t0, t1)
        tr.span("narrow", t1, t2)
        tr.count("parse.match_ratio", (m.get("rows_matched") or 0) / max(1, m.get("rows_total") or 0))
        shared, _splits = per_sink_aggregates_onepass(cat.read_table(STAGING_TABLE))
        t3 = perf()
        noop(shared)
        tr.span("aggregate.onepass", t3, perf())

    def probe_commit_writes(self, input_path: str, patterns) -> None:
        """One ``run_pipeline`` over ``input_path`` into a throw-away
        catalog, for the aggregate and repeat-record writes a workload
        that never calls ``run_pipeline`` does not make."""
        from harness import recording_catalog
        from log_parser_project_spark.plans.pipeline import run_pipeline

        cat = recording_catalog(self.spark, os.path.join(self.work, "wh-rollup"))
        run_pipeline(self.spark, self.spark.read.parquet(input_path), cat, patterns=patterns)
        self.record_writes(cat, staging=False)
        shutil.rmtree(cat.warehouse)

    def layer_metrics(self) -> dict:
        from harness import median

        tr = self.tracer
        scan, narrow = median(tr.durations("scan")), median(tr.durations("narrow"))
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        return {
            "session.start_s": (median(tr.durations("session.start")), "s"),
            "scan.s": (scan, "s"),
            "narrow.s": (narrow, "s"),
            "narrow.self_s": (narrow - scan, "s"),
            "parse.match_ratio": (median(tr.counts["parse.match_ratio"]), "ratio"),
            "catalog.staging_write_s": (median(tr.durations("catalog.staging_write")), "s"),
            "catalog.staging_files": (median(tr.counts["catalog.staging_files"]), "count"),
            "catalog.agg_write_s": (median(tr.durations("catalog.agg_writes")), "s"),
            "catalog.repeats_write_s": (median(tr.durations("catalog.repeats_write")), "s"),
            "aggregate.onepass_s": (median(tr.durations("aggregate.onepass")), "s"),
            "catalog.read_plan_ms": (median(tr.durations("catalog.read_plan")) * 1e3, "ms"),
            "catalog.query_exec_ms": (median(tr.durations("catalog.query_exec")) * 1e3, "ms"),
            "catalog.files_per_query": (mean(tr.counts["catalog.files_per_query"]), "count"),
            "catalog.manifest_entries": (mean(tr.counts["catalog.manifest_entries"]), "count"),
        }

    def record_writes(self, cat, staging: bool = True) -> None:
        """Spans for the writes ``cat`` recorded: each staging commit
        (with its file count, unless ``staging`` is false), each
        repeat-record write, and the aggregate writes of one commit
        round (they run concurrently, so the span is their covering
        interval)."""
        from harness import count_parquet_files
        from log_parser_project_spark.plans.pipeline import STAGING_TABLE

        tr = self.tracer
        aggs = [(t0, t1) for table, t0, t1, _d in cat.writes if table.startswith("agg_")]
        if aggs:
            tr.span("catalog.agg_writes", min(a for a, _ in aggs), max(b for _, b in aggs))
        for table, t0, t1, d in cat.writes:
            if table == "sink_repeat_records":
                tr.span("catalog.repeats_write", t0, t1)
            elif table == STAGING_TABLE and staging:
                tr.span("catalog.staging_write", t0, t1)
                tr.count("catalog.staging_files", count_parquet_files(os.path.join(cat.warehouse, d)))
        cat.writes.clear()


# ---------------------------------------------------------------- backfill
def backfill(run: Run, mem, kind: str) -> dict:
    import checks
    import gen
    from harness import dir_bytes, median, recording_catalog, since_process_start
    from log_parser_project_spark.plans.pipeline import STAGING_TABLE, run_pipeline
    from log_parser_project_spark.registry import PATTERNS, registry_from_json

    seed, work = run.args.seed, run.work
    t = perf()
    led = gen.generate(kind, seed, BACKFILL_TURNS[kind])
    warm = gen.generate(kind, seed + 1_000_003, WARM_TURNS)
    inp, warm_inp = os.path.join(work, "input"), os.path.join(work, "warm_input")
    gen.write_parquet(led, inp, N_FILES)
    gen.write_parquet(warm, warm_inp, N_FILES)
    gen.write_ledger([led], ledger_path(run))
    text_mb = led.text_bytes() / 1e6
    led.text.clear()  # the checks never read it; it would only swell peak_rss_mb
    patterns = PATTERNS if kind == "short" else registry_from_json(gen.LONG_REGISTRY)
    sinks = gen.SHORT_SINKS if kind == "short" else gen.LONG_SINKS
    index = checks.WindowIndex([led])
    expected_routes = checks.expected_aggregates(led)["by_route"]
    span_end = max(led.ts) + 1
    rng = random.Random(f"{seed}/queries")

    def queries():
        return [q for _ in range(BACKFILL_QUERIES)
                for q in query_plan(rng, sinks, BACKFILL_WINDOW_S, gen.EPOCH, span_end)]

    gen_s = perf() - t
    start_session(run, mem)
    spark = run.spark
    from log_parser_project_spark.operators.parse import choose_extractor

    extractor = choose_extractor(spark, patterns)

    # untimed warm-up: one backfill of a small input of the same shape,
    # a query in each bound form
    wcat = recording_catalog(spark, os.path.join(work, "wh-warm"))
    run_pipeline(spark, spark.read.parquet(warm_inp), wcat, patterns=patterns)
    sink, lo, hi = queries()[0]
    for as_iso in (False, True):
        run.query(wcat, checks.WindowIndex([warm]), 1, sink, lo, hi, as_iso=as_iso, record=False)
    shutil.rmtree(wcat.warehouse)
    setup_s = since_process_start() - gen_s

    pipe_s, append_ms, wh_bytes = [], [], []
    done = None  # catalog of the last backfill that committed
    t_end = perf() + run.args.seconds
    i = 0
    while i < MIN_PIPELINES or perf() < t_end:
        cat = recording_catalog(spark, os.path.join(work, f"wh-{i}"))
        t0 = perf()
        res = run.op(run_pipeline, spark, spark.read.parquet(inp), cat, patterns=patterns)
        t1 = perf()
        i += 1
        if res is None:
            continue
        pipe_s.append(t1 - t0)
        staged_at = next(end for table, _s, end, _d in cat.writes if table == STAGING_TABLE)
        append_ms.append((staged_at - t0) * 1e3)
        wh_bytes.append(dir_bytes(cat.warehouse))
        run.tracer.span("pipeline", t0, t1)
        run.problems += checks.diff_counts(
            "sink_counts", expected_routes, Counter({k: v for k, v in res.sink_counts.items() if v})
        )
        run.record_writes(cat)
        run.queries(cat, index, 1, queries())
        run.edge_query(cat, index, 1, gen.EPOCH, BACKFILL_WINDOW_S)
        if done is not None:
            shutil.rmtree(done.warehouse)
        done = cat

    mem.settle()  # after the timed work: every backfill holds the same
    if done is not None:
        run.problems += check_backfill(done, led, seed)
        if run.tracer.enabled:
            run.probe_layers(inp, patterns, done)
    print(
        f"# {run.args.workload}: {len(led)} turns, {text_mb:.1f} MB text, "
        f"extractor={extractor}, pipeline s {[round(x, 2) for x in pipe_s]}, "
        f"{len(run.queries_ms)} queries",
        file=sys.stderr,
    )
    return {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (len(led) / median(pipe_s), "1/s"),
        "warehouse_mb": (median(wh_bytes) / 1e6, "MB"),
        "append_p50_ms": (median(append_ms), "ms"),
        "query_p50_ms": (median(run.queries_ms), "ms"),
    }


def check_backfill(cat, led, seed: int) -> list[str]:
    """Read the committed aggregates, repeat records and a seeded
    sample of routed rows back and compare them with the ledger."""
    import checks
    from pyspark.sql import functions as F

    from log_parser_project_spark.plans.pipeline import STAGING_TABLE

    def counts(table, *cols):
        df = cat.read_table(table)
        if "hour" in cols:
            df = df.withColumn("hour", F.col("hour").cast("long"))
        rows = df.select(*cols, "n").collect()
        return Counter({(r[0] if len(cols) == 1 else tuple(r[:-1])): r[-1] for r in rows})

    actual = {
        "by_route": counts("agg_by_route", "route"),
        "by_conv": counts("agg_by_conv", "conv_id"),
        "by_role": counts("agg_by_role", "route", "role"),
        "by_tool": counts("agg_by_tool", "route", "tool"),
        "by_hour": counts("agg_by_hour", "route", "hour"),
    }
    problems = checks.check_aggregates(led, actual)
    problems += checks.check_repeats(led, cat.read_table("sink_repeat_records").count())
    convs = checks.sample_convs(led, seed, SAMPLE_CONVS)
    rows = (
        cat.read_table(STAGING_TABLE)
        .filter(F.col("conv_id").isin(convs))
        .select("conv_id", "turn_idx", "route", "extracted")
        .collect()
    )
    problems += checks.check_rows(led, convs, [
        (r.conv_id, r.turn_idx, r.route,
         {k: v for k, v in r.extracted.asDict().items() if v is not None})
        for r in rows
    ])
    return problems


# ------------------------------------------------------------------ ingest
def ingest_and_query(run: Run, mem) -> dict:
    import checks
    import gen
    from harness import dir_bytes, median, recording_catalog, since_process_start
    from log_parser_project_spark.plans.pipeline import STAGING_TABLE, build_routed
    from log_parser_project_spark.registry import PATTERNS
    from pyspark.sql import functions as F

    seed, work, k, span = run.args.seed, run.work, BATCHES, BATCH_SPAN_S
    t = perf()
    # batches k, k+1, ... (past the round) are the warm-up batches
    batches = gen.generate_batches(seed, k + WARM_BATCHES, BATCH_TURNS, span)
    paths = []
    for b, led in enumerate(batches):
        paths.append(os.path.join(work, f"batch-{b:03d}"))
        gen.write_parquet(led, paths[-1], 2)
    index = checks.WindowIndex(batches[:k])
    rng = random.Random(f"{seed}/queries")
    gen.write_ledger(batches[:k], ledger_path(run))
    gen_s = perf() - t

    start_session(run, mem)
    spark = run.spark

    def append(cat, b):
        routed = build_routed(spark, spark.read.parquet(paths[b]))
        staged = routed.withColumn("day", F.to_date("ts")).repartition("route", "day")
        cat.write_table(
            staged, STAGING_TABLE, mode="append", partition_by=["route", "day"],
            stats_cols=["ts"], lineage={"stage": "micro_batch", "batch": b},
        )
        return True

    # untimed warm-up: appends of the warm-up batches, a query in each
    # bound form after each (with one append, the first measured appends
    # were still 20-30 % slower than the last)
    wcat = recording_catalog(spark, os.path.join(work, "wh-warm"))
    warm_index = checks.WindowIndex(batches[k:])
    for b in range(k, k + WARM_BATCHES):
        append(wcat, b)
        lo = gen.EPOCH + b * span
        for as_iso in (False, True):
            run.query(wcat, warm_index, b - k + 1, "sink_errors", lo, lo + span,
                      as_iso=as_iso, record=False)
    shutil.rmtree(wcat.warehouse)
    setup_s = since_process_start() - gen_s

    append_ms, wh_bytes, turns = [], [], 0
    t_start = perf()
    t_end = t_start + run.args.seconds
    rnd = 0
    cat = None
    while rnd == 0 or perf() < t_end:
        if cat is not None:
            shutil.rmtree(cat.warehouse)
        cat = recording_catalog(spark, os.path.join(work, f"wh-{rnd}"))
        for b in range(k):
            t0 = perf()
            ok = run.op(append, cat, b)
            t1 = perf()
            if ok:
                append_ms.append((t1 - t0) * 1e3)
                turns += len(batches[b])
            run.queries(cat, index, b + 1, [
                q for _ in range(INGEST_QUERIES) for q in query_plan(
                    rng, gen.SHORT_SINKS, INGEST_WINDOW_S, gen.EPOCH, gen.EPOCH + (b + 1) * span)
            ])
            run.edge_query(cat, index, b + 1, gen.EPOCH + b * span, INGEST_WINDOW_S)
        run.record_writes(cat)
        wh_bytes.append(dir_bytes(cat.warehouse))
        rnd += 1
    loop_s = perf() - t_start
    mem.settle()  # after the timed work: every round holds the same

    # every appended row is in the staging table, on its route
    got = Counter(dict(
        (r.route, r["count"]) for r in cat.read_table(STAGING_TABLE).groupBy("route").count().collect()
    ))
    want = sum((Counter(led.route) for led in batches[:k]), Counter())
    run.problems += checks.diff_counts("staging routes", want, got)

    if run.tracer.enabled:
        run.probe_layers(paths[0], PATTERNS, cat)
        run.probe_commit_writes(paths[0], PATTERNS)
    print(
        f"# ingest_and_query: {rnd} rounds of {k} appends x {BATCH_TURNS} turns, "
        f"append ms {[round(x) for x in append_ms]}, {len(run.queries_ms)} queries",
        file=sys.stderr,
    )
    return {
        "setup_s": (setup_s, "s"),
        # sustained: turns committed per second of the client's loop,
        # queries included
        "turns_per_s": (turns / loop_s, "1/s"),
        "warehouse_mb": (median(wh_bytes) / 1e6, "MB"),
        "append_p50_ms": (median(append_ms), "ms"),
        "query_p50_ms": (median(run.queries_ms), "ms"),
    }


# -------------------------------------------------------------------- main
def ledger_path(run: Run) -> str:
    """The ground-truth ledger is kept after the run, for inspection."""
    return os.path.join(ROOT, ".pipebench", "ledgers", f"{run.args.workload}-seed{run.args.seed}.parquet")


def start_session(run: Run, mem) -> None:
    from harness import start_spark

    t0 = perf()
    run.spark = start_spark(run.work, len(os.sched_getaffinity(0)))
    run.tracer.span("session.start", t0, perf())
    mem.attach(run.spark)


WORKLOADS = {
    "backfill_short_turns": lambda run, mem: backfill(run, mem, "short"),
    "backfill_long_turns": lambda run, mem: backfill(run, mem, "long"),
    "ingest_and_query": ingest_and_query,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "log_parser_project_spark")):
        print("pipebench: the program (log_parser_project_spark/) is not beside "
              "pipebench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".pipebench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch file of the run stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from harness import PeakMemory, stop_spark

    run = Run(args, work)
    try:
        with PeakMemory() as mem:
            e2e = WORKLOADS[args.workload](run, mem)
            layers = run.layer_metrics() if run.tracer.enabled else {}
        e2e["peak_rss_mb"] = (mem.peak / 1e6, "MB")
        print(f"# peak_rss_mb: Python processes {mem.python_peak / 1e6:.0f} MB (PSS), "
              f"JVM {mem.jvm_peak / 1e6:.0f} MB (in use after a full collection)", file=sys.stderr)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        run.tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        shutil.rmtree(work, ignore_errors=True)

    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    chosen = layers if args.trace else e2e
    if args.trace:
        print("# untraced-equivalent metrics of this traced run: "
              + json.dumps({k: round(v, 4) for k, (v, _u) in e2e.items()}), file=sys.stderr)
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if not run.problems else 1


if __name__ == "__main__":
    sys.exit(main())
