"""Checkpoint/resume and streaming semantics:

* crash between groups → resume skips done groups, final output equals
  a single-shot run (no dupes, no gaps)
* crash mid-group (output written, manifest missing) → rerun
  replaces the group's partition exactly once
* availableNow streaming drains incrementally with exactly-once counts
  across two file drops
"""

import os

import pyspark.sql.functions as F
import pytest

from log_parser_project_spark.catalog import SnapshotCatalog
from log_parser_project_spark.generate import make_transcripts
from log_parser_project_spark.plans.pipeline import build_routed
from log_parser_project_spark.streaming.checkpoint import CheckpointedPipeline
from log_parser_project_spark.streaming.stream import stream_pipeline


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _route_counts(df):
    return {r.route: r.n for r in df.groupBy("route").agg(F.count("*").alias("n")).collect()}


def test_resume_after_crash_no_dupes_no_gaps(spark, transcripts_small, warehouse):
    cat = SnapshotCatalog(spark, warehouse)
    cp = CheckpointedPipeline(spark, cat, n_groups=6, job_id="t1")

    with pytest.raises(RuntimeError, match="simulated crash"):
        cp.run(transcripts_small, fail_after_group=1)
    first_done = cp.done_groups()
    assert 0 < len(first_done) < 6

    res = cp.run(transcripts_small)
    assert sorted(res["skipped"]) == sorted(first_done)
    assert set(res["processed"]) == set(range(6)) - first_done

    got = _route_counts(cp.read_output())
    want = _route_counts(build_routed(spark, transcripts_small))
    assert got == want

    # idempotent: a third run processes nothing and changes nothing
    res3 = cp.run(transcripts_small)
    assert res3["processed"] == []
    assert _route_counts(cp.read_output()) == want


def test_midgroup_crash_rerun_overwrites_partial(spark, transcripts_small, warehouse):
    from pyspark.sql import types as T

    from log_parser_project_spark.streaming.checkpoint import GROUPS_TABLE

    cat = SnapshotCatalog(spark, warehouse)
    cp = CheckpointedPipeline(spark, cat, n_groups=4, job_id="t2")
    cp.run(transcripts_small)
    want = _route_counts(cp.read_output())

    # simulate a crash where group 2's data landed but its manifest
    # didn't: delete the manifest, leave the output in place
    os.remove(cp._manifest_path(2))
    res = cp.run(transcripts_small)
    assert res["processed"] == [2]
    out = cp.read_output()
    assert _route_counts(out) == want  # replace, not append
    assert out.schema["group"].dataType == T.IntegerType()

    # the re-run masks group 2 only in the entry that holds it: no
    # entry carries a mask for a group it does not hold, so the
    # manifest grows with the commits, not with groups² × routes
    state = cat.snapshot(GROUPS_TABLE).state
    assert len(state) == 5  # groups 0..3, then group 2 again
    for e in state:
        held = {
            d for d in os.listdir(os.path.join(cat.warehouse, e["dir"]))
            if d.startswith("group=")
        }
        assert {x.split("/")[0] for x in e["exclude"]} <= held, e
    assert state[2]["exclude"] == ["group=2"]  # one mask per replaced subtree
    assert [e["exclude"] for i, e in enumerate(state) if i != 2] == [[], [], [], []]


def test_stream_available_now_exactly_once(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    cat = SnapshotCatalog(spark, wh)

    batch1 = make_transcripts(spark, n_convs=40)
    batch1.write.mode("append").parquet(input_dir)
    stream_pipeline(spark, input_dir, cat, ckpt)
    out1 = cat.read_table("stream_staging")
    n1 = out1.count()
    assert n1 == batch1.count()

    # second drop: only the new files are processed
    batch2 = make_transcripts(spark, n_convs=80).filter(F.col("conv_id") > "conv-00000039")
    batch2.write.mode("append").parquet(input_dir)
    stream_pipeline(spark, input_dir, cat, ckpt)
    out2 = cat.read_table("stream_staging")
    assert out2.count() == n1 + batch2.count()
    # no duplicates: (conv_id, turn_idx) unique
    assert out2.select("conv_id", "turn_idx").distinct().count() == out2.count()

    # re-drain with nothing new: no change
    stream_pipeline(spark, input_dir, cat, ckpt)
    assert cat.read_table("stream_staging").count() == n1 + batch2.count()


def test_watermarked_windowed_counts(spark, tmp_path):
    """Event-time windowed counts under a watermark: append-mode emits
    exactly the finalized windows (window end < final watermark), and
    their counts equal the batch ground truth."""
    from log_parser_project_spark.streaming.stream import TRANSCRIPT_SCHEMA, with_watermarked_counts
    from log_parser_project_spark.operators.parse import parse_builtin
    from log_parser_project_spark.operators.route import route as route_fn

    input_dir = str(tmp_path / "in")
    batch = make_transcripts(spark, n_convs=60)
    batch.write.parquet(input_dir)

    src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    routed_stream = route_fn(parse_builtin(src))
    agg = with_watermarked_counts(routed_stream)
    q = (
        agg.writeStream.format("memory").queryName("wm_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    emitted = {
        (r.window_start, r.route): r.n for r in spark.sql("select * from wm_counts").collect()
    }

    truth_df = (
        route_fn(parse_builtin(batch))
        .groupBy(F.window("ts", "1 hour").alias("w"), "route")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "route", "n")
    )
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    truth = {(r.ws, r.route): r.n for r in truth_df.collect()}
    finalized = {
        (r.ws, r.route): r.n
        for r in truth_df.collect()
        if (max_ts - r.we).total_seconds() >= 600  # window closed before watermark
    }
    # every emitted window is correct, and every finalized window was emitted
    assert emitted.items() <= truth.items()
    assert finalized.items() <= emitted.items()
    assert len(emitted) > 0


def test_stream_batch_redelivery_is_idempotent(spark, transcripts_small, warehouse):
    """foreachBatch re-delivery of the same batch_id (crash between
    write and checkpoint commit) must not double-write: the batch=<id>
    partition replace makes the retry replace its earlier commit."""
    from log_parser_project_spark.streaming.stream import batch_sink

    cat = SnapshotCatalog(spark, warehouse)
    sink = batch_sink(spark, cat, "stream_staging")
    sink(transcripts_small, 7)
    n1 = cat.read_table("stream_staging").count()
    sink(transcripts_small, 7)  # re-delivered micro-batch
    out = cat.read_table("stream_staging")
    assert out.count() == n1 == transcripts_small.count()
    assert out.select("conv_id", "turn_idx").distinct().count() == n1
    sink(transcripts_small.limit(10), 8)  # a NEW batch appends
    assert cat.read_table("stream_staging").count() == n1 + 10


def test_r4_stream_query_leaves_no_residual_views(spark, sf_dir):
    """q_r4_stream_hourly must drop its memory-sink temp view after
    materializing — repeated bench/driver invocations previously
    accumulated session-lifetime tables (ADVICE r02)."""
    from log_parser_project_spark.contract import ordered_queries

    fn, _ = ordered_queries()["q_r4_stream_hourly"]
    first = fn(spark, sf_dir)
    n1 = first.count()
    second = fn(spark, sf_dir)
    assert second.count() == n1
    residual = [t.name for t in spark.catalog.listTables() if t.name.startswith("q_r4_mem_")]
    assert residual == []
    # the returned frame must not depend on any sink staying registered
    assert first.count() == n1


def test_stream_upsert_replaces_resent_turns(spark, tmp_path):
    """Streaming MERGE sink: a re-sent turn (same conv_id/turn_idx,
    edited text) must REPLACE the earlier row — and a re-delivered
    micro-batch must not commit a second snapshot."""
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.streaming.stream import stream_upsert, upsert_sink

    input_dir = str(tmp_path / "in")
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    batch1 = make_transcripts(spark, n_convs=30)
    batch1.write.mode("append").parquet(input_dir)
    stream_upsert(spark, input_dir, cat, ckpt)
    n1 = batch1.count()
    assert cat.read_table("turns_upserted").count() == n1

    # re-send the first 10 convs' turn 0 with edited text + one new conv
    edits = (
        batch1.filter((F.col("conv_id") < "conv-00000010") & (F.col("turn_idx") == 0))
        .withColumn("text", F.lit("EDITED"))
    )
    extra = make_transcripts(spark, n_convs=31).filter(F.col("conv_id") == "conv-00000030")
    edits.unionByName(extra).write.mode("append").parquet(input_dir)
    stream_upsert(spark, input_dir, cat, ckpt)

    out = cat.read_table("turns_upserted")
    assert out.count() == n1 + extra.count()  # upsert, not append
    assert out.select("conv_id", "turn_idx").distinct().count() == out.count()
    assert out.filter(F.col("text") == "EDITED").count() == edits.count()

    # simulated batch re-delivery: same batch_id skips, no new snapshot
    last = cat.snapshot("turns_upserted")
    sink = upsert_sink(cat, "turns_upserted", ["conv_id", "turn_idx"])
    sink(edits, last.lineage["stream_batch_id"])
    assert cat.snapshot("turns_upserted").snapshot_id == last.snapshot_id


def test_session_window_streaming_equals_batch(spark, sf_dir):
    """q_w_sessionize's claim made real: the SAME session_window
    aggregate run as a Structured Streaming query (availableNow drain,
    complete mode) produces the identical session set as the batch
    query — batch and streaming sessions agree by construction."""
    import os
    import shutil
    import tempfile
    import uuid

    import pyspark.sql.functions as F

    from log_parser_project_spark.contract import ordered_queries
    from log_parser_project_spark.operators.windows import sessionize
    from log_parser_project_spark.queries import cents

    fn, _ = ordered_queries()["q_w_sessionize"]
    batch = sorted(map(tuple, fn(spark, sf_dir).collect()))

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    d = tempfile.mkdtemp(prefix="sess_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"), os.path.join(d, "events.parquet")
    )
    src = spark.readStream.schema(schema).parquet(d)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    agg = sessionize(
        src.withColumn("us", us), key="user_id", ts_col="ts", gap="30 minutes"
    ).agg(
        F.floor(F.min("us") / 1_000_000).cast("long").alias("session_start_s"),
        F.floor(F.max("us") / 1_000_000).cast("long").alias("session_last_s"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
        F.sum(cents("value")).alias("sum_value_c"),
    )
    name = f"sess_mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.drop("session_window")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        streamed = sorted(map(tuple, spark.table(name).collect()))
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(d, ignore_errors=True)
    assert streamed == batch and len(batch) > 0


def test_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    """An at-least-once source that re-delivers rows (full duplicate
    file + a partial third copy, drained across several micro-batches)
    collapses to exactly the distinct row set under watermark-bounded
    stateful dedup."""
    from log_parser_project_spark.streaming.stream import (
        TRANSCRIPT_SCHEMA,
        dedup_within_watermark,
    )

    input_dir = str(tmp_path / "dup_in")
    batch = make_transcripts(spark, n_convs=40)
    batch.write.parquet(input_dir)                          # original
    batch.write.mode("append").parquet(input_dir)           # full re-delivery
    batch.limit(100).write.mode("append").parquet(input_dir)  # partial re-delivery

    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 2)  # duplicates span micro-batches
        .parquet(input_dir)
    )
    # the watermark bounds how far BEHIND the stream's max event time a
    # re-delivered row may arrive: the synthetic corpus spans ~30 days
    # of event time and files drain in arbitrary order, so anything
    # shorter silently drops legitimate rows as late data
    out = dedup_within_watermark(src, keys=("conv_id", "turn_idx"), watermark="45 days")
    q = (
        out.writeStream.format("memory").queryName("dedup_wm")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["conv_id"], r["turn_idx"]) for r in spark.sql("select * from dedup_wm").collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in batch.dropDuplicates(["conv_id", "turn_idx"]).collect()
    )
    spark.catalog.dropTempView("dedup_wm")
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# stream-stream watermarked interval join
# ---------------------------------------------------------------------------

_REQ_SCHEMA = "req_id long, user_id long, ts timestamp"
_RSP_SCHEMA = "rsp_id long, user_id long, r_ts timestamp"


def _one_file(spark, rows, schema, path, mtime):
    """One parquet FILE (not dir) with a controlled mtime — the file
    source orders discovery by modification time, so each (mtime,
    file) step below is one maxFilesPerTrigger=1 micro-batch."""
    import glob
    import shutil

    df = spark.createDataFrame(rows, schema).coalesce(1)
    df.write.mode("overwrite").parquet(path + ".tmp")
    part = glob.glob(path + ".tmp/part-*.parquet")[0]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(path + ".tmp")
    os.utime(path, (mtime, mtime))


def test_stream_interval_join_matches_batch_across_batches(spark, tmp_path):
    """Pairs whose two sides arrive in DIFFERENT micro-batches must
    still join via the symmetric state — the capability foreachBatch
    per-batch joins lack."""
    import datetime as dt

    from log_parser_project_spark.streaming.stream import stream_interval_join

    t0 = dt.datetime(2024, 1, 1)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    ldir, rdir = str(tmp_path / "req"), str(tmp_path / "rsp")
    # batch 1: requests 1..3 (left) + one keyless response (right);
    # batch 2: request 4 and ALL the real responses — users 10/12/13
    # pair inside the 1-hour bound, user 11's response at +89min is out
    _one_file(spark, [(1, 10, at(0)), (2, 11, at(1)), (3, 12, at(2))],
              _REQ_SCHEMA, f"{ldir}/f1.parquet", 1_000_000)
    _one_file(spark, [(90, 99, at(0))],
              _RSP_SCHEMA, f"{rdir}/f1.parquet", 1_000_000)
    _one_file(spark, [(4, 13, at(3))],
              _REQ_SCHEMA, f"{ldir}/f2.parquet", 1_000_100)
    _one_file(spark, [(101, 10, at(30)), (102, 11, at(90)),
                      (103, 12, at(59)), (104, 13, at(4))],
              _RSP_SCHEMA, f"{rdir}/f2.parquet", 1_000_100)

    left = (spark.readStream.schema(_REQ_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(ldir))
    right = (spark.readStream.schema(_RSP_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(rdir))
    joined = stream_interval_join(
        left, right, key="user_id", left_ts="ts", right_ts="r_ts",
        upper="1 hour", watermark="1 day",
    ).select("req_id", "rsp_id")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ssj_xbatch").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.req_id, r.rsp_id) for r in spark.table("ssj_xbatch").collect()}
    spark.catalog.dropTempView("ssj_xbatch")

    assert got == {(1, 101), (3, 103), (4, 104)}


def test_stream_interval_join_left_outer_emits_unanswered(spark, tmp_path):
    """left_outer: a request with no response inside [ts, ts+upper]
    emits (req, null) once a later batch's watermark crosses its
    horizon — the 'request never answered' audit stream."""
    import datetime as dt

    from log_parser_project_spark.streaming.stream import stream_interval_join

    t0 = dt.datetime(2024, 1, 1)

    def at(**kw):
        return t0 + dt.timedelta(**kw)

    ldir, rdir = str(tmp_path / "req"), str(tmp_path / "rsp")
    # batch 1: the unanswered request (1) + an answered pair (2/201)
    _one_file(spark, [(1, 10, at()), (2, 11, at(minutes=1))],
              _REQ_SCHEMA, f"{ldir}/f1.parquet", 1_000_000)
    _one_file(spark, [(201, 11, at(minutes=5))],
              _RSP_SCHEMA, f"{rdir}/f1.parquet", 1_000_000)
    # batch 2: both sides jump 3 days ahead → after this batch commits
    # the (min-of-sources) watermark sits far past req 1's horizon
    _one_file(spark, [(8, 77, at(days=3))],
              _REQ_SCHEMA, f"{ldir}/f2.parquet", 1_000_100)
    _one_file(spark, [(208, 77, at(days=3, minutes=1))],
              _RSP_SCHEMA, f"{rdir}/f2.parquet", 1_000_100)
    # batch 3: one more batch so state eviction RUNS with that watermark
    _one_file(spark, [(9, 78, at(days=3, minutes=2))],
              _REQ_SCHEMA, f"{ldir}/f3.parquet", 1_000_200)
    _one_file(spark, [(209, 78, at(days=3, minutes=3))],
              _RSP_SCHEMA, f"{rdir}/f3.parquet", 1_000_200)

    left = (spark.readStream.schema(_REQ_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(ldir))
    right = (spark.readStream.schema(_RSP_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(rdir))
    joined = stream_interval_join(
        left, right, key="user_id", left_ts="ts", right_ts="r_ts",
        upper="1 hour", watermark="10 minutes", how="left_outer",
    ).select("req_id", "rsp_id")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ssj_outer").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.req_id, r.rsp_id) for r in spark.table("ssj_outer").collect()}
    spark.catalog.dropTempView("ssj_outer")

    assert {(2, 201), (8, 208), (9, 209)} <= got
    assert (1, None) in got          # null-extended after the horizon
    assert not any(a == 1 and b is not None for a, b in got)


def test_stream_interval_join_rejects_same_ts_name(spark):
    from log_parser_project_spark.streaming.stream import stream_interval_join

    df = spark.createDataFrame([], _REQ_SCHEMA)
    with pytest.raises(ValueError, match="must differ"):
        stream_interval_join(df, df, key="user_id", left_ts="ts", right_ts="ts")


def test_q_ss_interval_join_streaming_equals_batch(spark, sf_dir):
    """The registered query's streaming pair set equals the plain batch
    interval join over the same table (the DuckDB oracle's shape)."""
    from log_parser_project_spark.contract import ordered_queries

    fn, _sql = ordered_queries()["q_ss_interval_join"]
    out = fn(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    l = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("lts"))
    r = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user_id"), F.col("ts").alias("rts"))
    batch = l.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    exp = {(x.view_id, x.purchase_id)
           for x in batch.select("view_id", "purchase_id").collect()}
    assert {(x.view_id, x.purchase_id) for x in out.collect()} == exp
