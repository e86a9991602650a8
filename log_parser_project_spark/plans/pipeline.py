"""The flagship job: parse → enrich → route → aggregate, fanned out.

This is the Spark analog of the reference's packet-decode lifecycle
(SURVEY.md §3.3): scan → routing-key projection → registry lookup →
vectorized field extraction → derived metrics → sink.

Plan shape (deliberate):

* parse/enrich/route are *narrow* — one whole-stage-codegen'd pipeline
  (plus a single ArrowEvalPython exchange when the registry needs the
  pandas extractor); ~10^6 rows/s per 32-core box steady-state. The
  registry compiles to Column expressions ONCE per process
  (:func:`_narrow_plan`), so a micro-batch pays only for applying them.
* **fan-out = ONE partitioned write.** The routed fact lands once in
  ``sink_staging`` partitioned by ``(route, day)``; each logical sink
  is a partition subtree (Iceberg-style hidden partitioning). This
  replaces N filtered write jobs — at 100 TB that's one pass over the
  text instead of six, and per-sink reads still prune to their
  partition directories.
* per-sink aggregates re-read the committed staging table column-
  pruned (conv_id/role/tool/ts/route only) — a columnar scan of a few
  narrow columns, not the wide text+struct rows.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SnapshotCatalog
from ..metrics import dump, get_safe, observed
from ..operators.aggregate import per_sink_aggregates_onepass
from ..operators.enrich import derive_columns, enrich_columns, enum_columns
from ..operators.parse import (
    all_groups,
    choose_extractor,
    classify_columns,
    explode_repeats,
    extract_builtin_columns,
    extract_udf_columns,
)
from ..operators.route import route_column
from ..registry import PATTERNS, Pattern, registry_to_json, sinks_of


def sink_columns(patterns: tuple[Pattern, ...] = PATTERNS) -> list[str]:
    """The routed-fact schema for a registry: fixed input + parse
    columns, enum-friendly columns from the registry's enum fields,
    derived metrics when the registry has the metric class."""
    cols = [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "pattern_class", "version", "matched", "extracted", "repeats",
        "role_class", "weight", "tool_family", "risk_level",
    ]
    cols += list(dict.fromkeys(
        f"{p.enum_field}_friendly" for p in patterns if p.enum_field and p.enum_map
    ))
    if {"latency_ms", "tokens"} <= set(all_groups(patterns)):
        cols.append("tokens_per_sec")
    return cols + ["route"]


SINK_COLUMNS = sink_columns(PATTERNS)

STAGING_TABLE = "sink_staging"


@dataclass
class PipelineResult:
    sink_counts: dict[str, int] = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    aggregates: dict[str, str] = field(default_factory=dict)
    staging_snapshot: str | None = None


class AuditError(RuntimeError):
    """The write-audit-publish gate rejected a staged fan-out commit;
    the stage was abandoned and readers still see the previous state."""

    def __init__(self, violations: list[str]):
        super().__init__("; ".join(violations))
        self.violations = violations


def default_audit(df: DataFrame) -> list[str]:
    """The built-in quality gate for the routed fact: one aggregate job
    over the staged snapshot. Violations (any ⇒ the stage is abandoned):
    null route (a row no sink owns), null conv_id/ts (breaks partition
    pruning and per-conv ordering), matched rows with no pattern_class
    (enrich/route contract breach)."""
    r = df.agg(
        F.sum(F.col("route").isNull().cast("long")).alias("null_route"),
        F.sum(F.col("conv_id").isNull().cast("long")).alias("null_conv"),
        F.sum(F.col("ts").isNull().cast("long")).alias("null_ts"),
        F.sum(
            (F.col("matched") & F.col("pattern_class").isNull()).cast("long")
        ).alias("matched_no_class"),
    ).collect()[0]
    checks = [
        (r.null_route, "rows with null route"),
        (r.null_conv, "rows with null conv_id"),
        (r.null_ts, "rows with null ts"),
        (r.matched_no_class, "matched rows without pattern_class"),
    ]
    return [f"{n} {what}" for n, what in checks if n]


@dataclass(frozen=True)
class _NarrowPlan:
    """A registry compiled to the narrow plan's Column expressions."""

    jvm: object  # the py4j view the Columns were built through
    projections: tuple[dict[str, Column], ...]  # applied in order
    columns: tuple[str, ...]  # the final select


# compiled narrow plans, keyed by the canonical registry JSON (a
# Pattern with an enum_map dict is unhashable) — the analog of the
# reference's metadata cache (icd_parser/cache.py); registries are
# immutable, so nothing is evicted
_NARROW: dict[str, _NarrowPlan] = {}


def _compile_narrow(spark: SparkSession, patterns: tuple[Pattern, ...]) -> _NarrowPlan:
    if choose_extractor(spark, patterns) == "jvm":
        extract = (extract_builtin_columns("text", patterns),)
    else:
        call, cols = extract_udf_columns("text", patterns)
        extract = ({"_p": call}, cols)
    # enrich, enums, derived metrics and route read only columns that
    # exist after extraction: one projection
    finish = {**enrich_columns(), **enum_columns(patterns)}
    if {"latency_ms", "tokens"} <= set(all_groups(patterns)):
        finish.update(derive_columns())
    finish["route"] = route_column(patterns)
    return _NarrowPlan(
        jvm=spark._jvm,
        projections=(classify_columns("text", patterns), *extract, finish),
        columns=tuple(sink_columns(patterns)),
    )


def _narrow_plan(spark: SparkSession, patterns: tuple[Pattern, ...]) -> _NarrowPlan:
    """The cached compiled plan of ``patterns``; rebuilt when the cached
    one was built through another py4j gateway. Threads that miss at
    once each compile; the plans are equal, so whichever lands is right."""
    key = json.dumps(registry_to_json(patterns), sort_keys=True)
    plan = _NARROW.get(key)
    if plan is None or plan.jvm is not spark._jvm:
        plan = _NARROW[key] = _compile_narrow(spark, patterns)
    return plan


def build_routed(
    spark: SparkSession,
    transcripts: DataFrame,
    patterns: tuple[Pattern, ...] = PATTERNS,
) -> DataFrame:
    """The narrow portion of the plan: everything before any shuffle.

    The registry picks the extraction engine (``parse.choose_extractor``):
    compiled built-in expressions (``jvm``) when every regex is
    portable to ``java.util.regex``, else the pandas ``str.extract``
    UDF (full Python-re semantics). Both give the same output
    (tests/test_extract_equivalence.py, tests/test_property_parse.py).

    The registry is compiled once per process (:func:`_narrow_plan`);
    a call applies the cached expressions as projections — classify;
    extract (the UDF call and its unpacking are two on the pandas
    engine); enrich + enums + derived metrics + route — and the final
    select. Enrich is literal map lookups, so the plan holds no join,
    no exchange and, on the JVM engine, no Python.
    """
    plan = _narrow_plan(spark, patterns)
    df = transcripts
    for cols in plan.projections:
        df = df.withColumns(cols)
    return df.select(*plan.columns)


def read_sink(catalog: SnapshotCatalog, sink: str, ts_range: tuple | None = None) -> DataFrame:
    """A logical sink = one route partition of the staging table.

    ``ts_range=(lo, hi)`` (ISO strings or datetimes, a naive one in the
    session time zone; either bound None; both inclusive)
    narrows to a time window: the manifest ts stats prune whole files
    at planning time (the commit records per-file min/max), and the
    row-level filter on top keeps the result exact."""
    df = catalog.read_table(
        STAGING_TABLE, predicate=None if ts_range is None else ("ts", *ts_range)
    )
    df = df.filter(F.col("route") == sink)
    if ts_range is not None:
        lo, hi = ts_range
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col("ts") <= F.lit(hi))
    return df


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: SnapshotCatalog,
    metrics_path: str | None = None,
    write_repeats: bool = True,
    patterns: tuple[Pattern, ...] = PATTERNS,
    audit=None,
) -> PipelineResult:
    """``audit`` opts the fan-out commit into write-audit-publish: the
    staging write lands STAGED (readers keep the previous state), the
    audit callable — ``True`` for :func:`default_audit` — runs against
    the staged snapshot, and the commit publishes only when it returns
    no violations; otherwise the stage is abandoned (targeted dir
    cleanup) and :class:`AuditError` raises. A bad batch can then never poison 100 TB of downstream
    readers — they see the last good snapshot throughout."""
    routed, obs = observed(
        build_routed(spark, transcripts, patterns=patterns)
    )

    # cluster rows by the partition key before the dynamic-partition
    # write: one shuffle, but each (route, day) directory is then
    # written by one task — without this, every task opens a writer per
    # partition value (tasks × routes × days small files).
    staged = routed.withColumn("day", F.to_date("ts")).repartition("route", "day")

    snap = catalog.write_table(
        staged,
        STAGING_TABLE,
        partition_by=["route", "day"],
        lineage={"stage": "fan_out", "sinks": list(sinks_of(patterns))},
        # row count comes from the Observation populated by this same
        # write action — no second pass
        row_count=lambda: int(get_safe(obs).get("rows_total") or 0),
        # manifest ts stats (footer metadata only) so time-windowed
        # sink reads can skip whole files at planning time
        stats_cols=["ts"],
        staged=audit is not None,
    )
    if audit is not None:
        check = default_audit if audit is True else audit
        try:
            violations = check(
                catalog.read_table(
                    STAGING_TABLE, as_of=snap.snapshot_id, schema=staged.schema
                )
            )
        except Exception:
            # a crashing audit must not leak its pending stage — pending
            # stages are deliberately immune to expiry and the default
            # orphan sweep, so an unabandoned one pins the batch (and
            # its inherited parent dirs) on disk forever
            catalog.abandon_stage(STAGING_TABLE, snap.snapshot_id)
            raise
        if violations:
            catalog.abandon_stage(STAGING_TABLE, snap.snapshot_id)
            raise AuditError(violations)
        snap = catalog.publish(
            STAGING_TABLE, snap.snapshot_id,
            # forensics: the published line records which gate it passed
            audit_note={"gate": getattr(check, "__name__", "audit"),
                        "violations": 0},
        )
    metrics = get_safe(obs)

    staging = catalog.read_table(STAGING_TABLE, schema=staged.schema)

    # per-sink aggregates AND the per-route sink tallies come from ONE
    # grouping-sets job over the committed fact: one column-pruned scan
    # + one shuffle for all five key sets. The shared aggregate is
    # persisted (it is aggregate-sized, not fact-sized); the table
    # writes and the repeats sink are then independent cheap jobs
    # submitted concurrently so the cluster pipelines them instead of
    # idling between sequential actions.
    from concurrent.futures import ThreadPoolExecutor

    shared, agg_splits = per_sink_aggregates_onepass(staging)
    shared.persist()
    shared.count()  # the one heavy job; splits below are cache reads

    sink_counts = {s: 0 for s in sinks_of(patterns)}
    for r in agg_splits["by_route"].collect():
        sink_counts[r.route] = r.n

    result = PipelineResult(sink_counts=sink_counts, staging_snapshot=snap.snapshot_id)
    if metrics_path:
        result.metrics = dump(obs, metrics_path, extra={"sink_counts": sink_counts})
    else:
        metrics["sink_counts"] = sink_counts
        result.metrics = metrics

    def _write_agg(item):
        name, agg_df = item
        return name, catalog.write_table(agg_df, f"agg_{name}", lineage={"stage": "aggregate"})

    jobs = list(agg_splits.items())
    with ThreadPoolExecutor(max_workers=len(jobs) + 1) as pool:
        futs = [pool.submit(_write_agg, it) for it in jobs]
        rep_fut = None
        repeat_routes = sorted({p.route for p in patterns if p.repeat_group})
        if write_repeats and repeat_routes:
            rep_src = staging.filter(F.col("route").isin(*repeat_routes))
            rep_fut = pool.submit(
                catalog.write_table,
                explode_repeats(rep_src, patterns),
                "sink_repeat_records",
                lineage={"stage": "explode_repeats"},
            )
        for f in futs:
            name, asnap = f.result()
            result.aggregates[name] = asnap.snapshot_id
        if rep_fut is not None:
            rep_fut.result()
    shared.unpersist()

    return result
