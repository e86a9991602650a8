"""Incremental streaming ingestion example — the continuously-landing
transcripts path.

Run:  python examples/stream_ingest.py

Simulates a landing zone where transcript parquet files arrive over
time, and shows the three streaming behaviors a production ingest
needs (all `trigger(availableNow)` — drain what's there, then stop,
so cron-style re-runs are incremental):

1. first drop → one drain parses/enriches/routes it into the staging
   table (exactly-once per micro-batch: each batch commits as a snapshot
   replacing its own ``batch=<id>`` partition)
2. second drop → a re-run processes ONLY the new files (source
   offsets live in the stream checkpoint), no reprocessing
3. a conversation's turns are RE-SENT (at-least-once upstream):
   the append-only staging path keeps both copies by design, while
   `stream_upsert` collapses them — the re-send replaces its earlier
   row keyed on (conv_id, turn_idx)
4. event-time hourly per-route counts from the routed output

This is the workflow for transcripts that land as files from an
upstream collector; for a registry-driven batch backfill over a
complete table, use jobs/run_pipeline.py instead.
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, ".")  # run from the repo root

from pyspark.sql import functions as F  # noqa: E402

from log_parser_project_spark.catalog import SnapshotCatalog  # noqa: E402
from log_parser_project_spark.generate import make_transcripts  # noqa: E402
from log_parser_project_spark.session import get_spark  # noqa: E402
from log_parser_project_spark.streaming.stream import (  # noqa: E402
    stream_pipeline,
    stream_upsert,
)


def _route_counts(df):
    return dict(
        sorted(
            (r.route, r.n)
            for r in df.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
        )
    )


def main() -> None:
    spark = get_spark(parallelism=8)
    root = Path(tempfile.mkdtemp(prefix="stream_demo_"))
    landing = str(root / "landing")
    cat = SnapshotCatalog(spark, str(root / "wh"))

    # ---- drop 1: 60 conversations land ----------------------------
    drop1 = make_transcripts(spark, n_convs=60)
    drop1.write.mode("append").parquet(landing)
    stream_pipeline(spark, landing, cat, str(root / "ckpt"))
    staged = cat.read_table("stream_staging")
    print(f"after drop 1: {staged.count()} routed turns")
    print("  per route:", _route_counts(staged))

    # ---- drop 2: 40 NEW conversations + a re-sent old one ---------
    new = make_transcripts(spark, n_convs=100).filter(F.col("conv_id") > "conv-00000059")
    resent = drop1.filter(F.col("conv_id") == "conv-00000007")
    new.unionByName(resent).write.mode("append").parquet(landing)

    stream_pipeline(spark, landing, cat, str(root / "ckpt"))
    staged = cat.read_table("stream_staging")
    n_dupes = staged.count() - staged.select("conv_id", "turn_idx").distinct().count()
    print(f"\nafter drop 2: {staged.count()} routed turns (only new files were read)")
    print(f"  re-sent turns kept as duplicates by the append-only path: {n_dupes}")

    # a third drain with nothing new is a no-op
    before = staged.count()
    stream_pipeline(spark, landing, cat, str(root / "ckpt"))
    assert cat.read_table("stream_staging").count() == before

    # ---- the same landing zone through the upsert path ------------
    stream_upsert(spark, landing, cat, str(root / "ckpt_upsert"))
    up = cat.read_table("turns_upserted")
    assert up.select("conv_id", "turn_idx").distinct().count() == up.count()
    print(f"\nupsert path: {up.count()} turns, re-sent rows replaced (key-unique)")

    # ---- event-time rollup over the routed output ------------------
    print("\n-- hourly per-route counts (top 5 hours) --")
    (
        staged.groupBy(F.date_trunc("hour", "ts").alias("hour"), "route")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "hour", "route")
        .show(5, truncate=False)
    )


if __name__ == "__main__":
    main()
