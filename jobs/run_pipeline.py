"""spark-submit entry point for the transcript pipeline.

Usage (BASELINE.md launch mode)::

    python -m zipfile -c /tmp/engine.zip log_parser_project_spark
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/run_pipeline.py --warehouse /tmp/wh --convs 100000

    # or over an existing transcripts parquet/Iceberg table:
    spark-submit --py-files /tmp/engine.zip jobs/run_pipeline.py \
        --warehouse /tmp/wh --input /data/transcripts

    # resumable checkpointed mode (per-group lineage manifests):
    ... jobs/run_pipeline.py --warehouse /tmp/wh --convs 100000 \
        --checkpointed --groups 16
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# standalone `python jobs/run_pipeline.py` runs with jobs/ as the script
# dir; put the repo root on the path (under spark-submit --py-files the
# shipped zip covers executors, and this covers the driver)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _suite_audit(path: str, catalog):
    """A write-audit-publish gate from a declared expectations-suite
    JSON file (list of specs; see ``expectations.py``). A referential
    spec's ``dim`` may name another warehouse table — resolved lazily
    at audit time (the table may be committed by the same run)."""
    from log_parser_project_spark import expectations as ex

    with open(path) as f:
        specs = json.load(f)

    def _gate(df):
        return ex.violations(df, ex.resolve_dims(specs, catalog.read_table))

    return _gate


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--input", default=None, help="transcripts parquet dir (else synthetic)")
    src.add_argument("--input-text", default=None,
                     help="raw text-log dir: one conversation per file, line order exact")
    ap.add_argument("--multiline-indent", action="store_true",
                    help="with --input-text: fold indented continuation lines into "
                         "their anchor record before parsing")
    ap.add_argument("--convs", type=int, default=10000)
    ap.add_argument("--hot-rows", type=int, default=0)
    ap.add_argument(
        "--registry", default=None,
        help="registry JSON (regex- or grok-authored patterns) — the whole "
             "pipeline adapts: classify prefixes, extraction, enums, sinks, "
             "repeats (default: the built-in five-class registry)",
    )
    ap.add_argument("--checkpointed", action="store_true")
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--job-id", default="default")
    ap.add_argument(
        "--compact", action="store_true",
        help="after the run, rewrite the table it wrote (the staging "
             "sink, or the per-group table when --checkpointed) into "
             "~128MB files (rewrite_data_files maintenance)",
    )
    ap.add_argument(
        "--audit", action="store_true",
        help="write-audit-publish: land the fan-out staged, publish only "
             "after the built-in quality gate passes (readers keep the "
             "last good snapshot if the batch is bad)",
    )
    ap.add_argument(
        "--audit-suite", default=None, metavar="SUITE_JSON",
        help="write-audit-publish with a DECLARED expectations suite "
             "(JSON list of specs; see expectations.py) instead of the "
             "built-in gate — implies --audit",
    )
    ap.add_argument(
        "--keep-snapshots", type=int, default=3,
        help="retain this many snapshots per rewritten table after a "
             "successful run (0 = never expire; repeated runs then grow "
             "the warehouse without bound)",
    )
    args = ap.parse_args()
    if args.audit_suite:
        args.audit = True
    if args.checkpointed and args.audit:
        # the checkpointed path commits per-group via replace_partitions
        # (idempotent resume), which has no staged variant — refuse
        # rather than silently skip the gate the operator asked for
        ap.error("--audit is not supported with --checkpointed; "
                 "run the batch path or audit sinks post-hoc")

    # under spark-submit the session already exists; standalone we build one
    spark = SparkSession.builder.appName("transcript-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # ship the package to executor python workers — the --py-files analog
    # for standalone runs (harmless duplicate when spark-submit already
    # shipped the zip)
    from log_parser_project_spark.session import _package_zip

    spark.sparkContext.addPyFile(_package_zip())

    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.generate import make_transcripts
    from log_parser_project_spark.plans.pipeline import run_pipeline
    from log_parser_project_spark.streaming.checkpoint import (
        GROUPS_TABLE,
        CheckpointedPipeline,
    )

    # production entry uses the snapshot-committing catalog: every run is
    # a new snapshot (time-travelable, expirable), never an in-place clobber
    catalog = SnapshotCatalog(spark, args.warehouse)

    # materialize the registry + enrich dims as warehouse tables (K4
    # metadata-sink analog: reference export/metadata_generator.py) —
    # introspectable via the query_helpers CLI-parity surface
    from log_parser_project_spark.registry import (
        PATTERNS,
        dim_patterns_df,
        dim_roles_df,
        dim_tools_df,
        registry_from_json,
    )

    patterns = registry_from_json(args.registry) if args.registry else PATTERNS
    catalog.write_table(
        dim_patterns_df(spark, patterns), "dim_patterns", lineage={"stage": "registry"}
    )
    catalog.write_table(dim_roles_df(spark), "dim_roles", lineage={"stage": "registry"})
    catalog.write_table(dim_tools_df(spark), "dim_tools", lineage={"stage": "registry"})
    from log_parser_project_spark.revisions import (
        dim_revision_classes_df,
        dim_revisions_df,
    )

    catalog.write_table(dim_revisions_df(spark), "dim_revisions", lineage={"stage": "registry"})
    catalog.write_table(
        dim_revision_classes_df(spark), "dim_revision_classes", lineage={"stage": "registry"}
    )

    if args.input_text:
        from log_parser_project_spark.sources.textlog import (
            read_text_log,
            textlog_transcripts,
        )

        transcripts = textlog_transcripts(read_text_log(spark, args.input_text))
        if args.multiline_indent:
            # fold indented continuation lines into their anchor record
            from pyspark.sql import functions as F

            from log_parser_project_spark.operators.logmine import assemble_records
            from log_parser_project_spark.sources.textlog import records_transcripts

            transcripts = records_transcripts(
                assemble_records(transcripts, is_start=~F.col("text").rlike(r"^[ \t]"))
            )
        fingerprint = f"text:{args.input_text}"
    elif args.input:
        transcripts = spark.read.parquet(args.input)
        fingerprint = args.input
    else:
        transcripts = make_transcripts(spark, n_convs=args.convs, hot_conv_rows=args.hot_rows)
        fingerprint = f"synthetic:convs={args.convs}:hot={args.hot_rows}"

    if args.checkpointed:
        cp = CheckpointedPipeline(
            spark, catalog, n_groups=args.groups, job_id=args.job_id, patterns=patterns,
        )
        res = cp.run(transcripts, input_fingerprint=fingerprint)
        print(json.dumps({"mode": "checkpointed", **res}))
    else:
        res = run_pipeline(
            spark, transcripts, catalog,
            metrics_path=f"{args.warehouse}/_metrics/{args.job_id}.json",
            patterns=patterns,
            audit=_suite_audit(args.audit_suite, catalog) if args.audit_suite
            else (True if args.audit else None),
        )
        print(json.dumps({
            "mode": "batch",
            "sink_counts": res.sink_counts,
            "metrics": {k: v for k, v in res.metrics.items() if k != "sink_counts"},
            "staging_snapshot": res.staging_snapshot,
        }, default=str))

    from log_parser_project_spark.plans.pipeline import STAGING_TABLE

    if args.compact:
        # the compacted snapshot keeps the (group, route) layout, so a
        # later re-run of one group still replaces just its subtree
        table, layout = (
            (GROUPS_TABLE, ["group", "route"]) if args.checkpointed
            else (STAGING_TABLE, ["route", "day"])
        )
        if catalog.exists(table):
            catalog.compact(table, partition_by=layout)

    # retention: every run rewrites the dim tables and commits fresh
    # sink/agg snapshots — without expiry the warehouse grows per run
    if args.keep_snapshots > 0:
        rewritten = ["dim_patterns", "dim_roles", "dim_tools",
                     "dim_revisions", "dim_revision_classes",
                     STAGING_TABLE, "sink_repeat_records"] + [
            t for t in catalog.tables() if t.startswith("agg_")
        ]
        for t in rewritten:
            catalog.expire_snapshots(t, keep_last=args.keep_snapshots)


if __name__ == "__main__":
    main()
