"""SnapshotCatalog: Iceberg-table semantics on parquet — snapshot
isolation, time travel, append + incremental scan, manifest-level
dynamic partition overwrite (idempotent), and snapshot expiry.

The reference overwrites SQLite in place (``src/datastore.py:148-212``);
the north rule asks for Iceberg sinks with resumable, exactly-once
commits — these tests pin those semantics.
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from log_parser_project_spark.catalog import SnapshotCatalog


def _df(spark, rows, schema="k int, route string, v string"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def cat(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "wh"))


def _vals(df):
    return sorted((r.k, r.route, r.v) for r in df.collect())


def test_overwrite_keeps_old_snapshot_readable(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    s2 = cat.write_table(_df(spark, [(3, "a", "z")]), "t")
    assert _vals(cat.read_table("t")) == [(3, "a", "z")]
    # time travel to the pre-overwrite state
    assert _vals(cat.read_table("t", as_of=s1.snapshot_id)) == [(1, "a", "x"), (2, "b", "y")]
    hist = cat.history("t")
    assert [h.snapshot_id for h in hist] == [s1.snapshot_id, s2.snapshot_id]
    assert hist[1].parent_id == s1.snapshot_id and hist[1].sequence == 2


def test_append_and_incremental_scan(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]
    # incremental: only directories committed after s1
    assert _vals(cat.read_table("t", since=s1.snapshot_id)) == [(2, "b", "y"), (3, "c", "z")]
    assert _vals(cat.read_table("t", since=s2.snapshot_id)) == [(3, "c", "z")]


def test_replace_partitions_is_idempotent_and_time_travels(spark, cat):
    s1 = cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "b", "y2")]),
        "t",
        partition_by=["route"],
    )
    new = _df(spark, [(9, "b", "NEW")])
    s2 = cat.write_table(new, "t", mode="replace_partitions", partition_by=["route"])
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (9, "b", "NEW")]
    # crash-retry: replaying the same partition commit cannot double-write
    cat.write_table(new, "t", mode="replace_partitions", partition_by=["route"])
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (9, "b", "NEW")]
    # untouched partition still served from the ORIGINAL files
    assert _vals(cat.read_table("t", as_of=s1.snapshot_id)) == [
        (1, "a", "x"), (2, "b", "y"), (3, "b", "y2"),
    ]
    assert cat.snapshot("t").op == "replace_partitions"
    assert s2.parent_id == s1.snapshot_id


def test_expire_snapshots_drops_unreferenced_dirs(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    old_dir = os.path.join(cat.warehouse, s1.state[0]["dir"])
    assert os.path.isdir(old_dir)
    removed = cat.expire_snapshots("t", keep_last=1)
    assert removed == [s1.state[0]["dir"]] and not os.path.isdir(old_dir)
    assert _vals(cat.read_table("t")) == [(2, "b", "y")]
    with pytest.raises(LookupError):
        cat.read_table("t", as_of=s1.snapshot_id)


def test_torn_log_line_is_ignored(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    with open(cat._log_path("t"), "a") as f:
        f.write('{"snapshot_id": "deadbeef", "tabl')  # crash mid-append
    assert [h.snapshot_id for h in cat.history("t")] == [s1.snapshot_id]
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]


def test_empty_append_delta_and_empty_table(spark, cat):
    schema = "k int, route string, v string"
    s1 = cat.write_table(_df(spark, [], schema), "t")
    assert cat.read_table("t", schema=schema).count() == 0
    cat.write_table(_df(spark, [(1, "a", "x")], schema), "t", mode="append")
    assert _vals(cat.read_table("t", schema=schema)) == [(1, "a", "x")]
    assert cat.read_table("t", schema=schema, since=s1.snapshot_id).count() == 1


def test_pipeline_runs_on_snapshot_catalog(spark, transcripts_small, tmp_path):
    """The flagship job is catalog-agnostic: same sink counts, reads
    resolve through the snapshot pointer, partition pruning intact."""
    from log_parser_project_spark.plans.pipeline import read_sink, run_pipeline

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, transcripts_small, cat, write_repeats=False)
    errors = read_sink(cat, "sink_errors")
    assert errors.count() == res.sink_counts["sink_errors"] > 0
    plan = errors.select("conv_id")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "route" in plan.split("PartitionFilters", 1)[1][:200]
    # a second run commits a new snapshot; the first stays readable
    first = cat.snapshot("sink_staging").snapshot_id
    run_pipeline(spark, transcripts_small, cat, write_repeats=False)
    assert cat.snapshot("sink_staging").parent_id == first
    assert cat.read_table("sink_staging", as_of=first).count() == sum(
        res.sink_counts.values()
    )


def test_manifest_pointer_is_valid_json(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    p = os.path.join(cat._manifest_dir, "t.json")
    with open(p) as f:
        d = json.load(f)
    assert d["op"] == "overwrite" and d["state"][0]["dir"].startswith("t/snap-00001-")


def test_exists_sees_snapshot_tables(spark, cat):
    assert not cat.exists("t")
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    assert cat.exists("t")


def test_uncommitted_trailing_log_line_survives_expiry(spark, cat):
    """write_table appends the log line BEFORE the atomic pointer flip;
    a crash in that window leaves a complete-but-uncommitted tail.
    history() must not count it, and expire(keep_last=1) must keep the
    dirs the committed pointer references (not the phantom tail's)."""
    from dataclasses import asdict

    from log_parser_project_spark.catalog import Snapshot

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    # simulate the crash: parquet dir written + log appended, no pointer
    phantom_dir = "t/snap-00003-feedfeed"
    os.makedirs(os.path.join(cat.warehouse, phantom_dir))
    phantom = Snapshot(
        snapshot_id="feedfeed", table="t", row_count=1, committed_at_unix=0.0,
        parent_id=s2.snapshot_id, op="overwrite",
        state=[{"dir": phantom_dir, "exclude": []}], sequence=3,
    )
    with open(cat._log_path("t"), "a") as f:
        f.write(json.dumps(asdict(phantom)) + "\n")

    assert [h.snapshot_id for h in cat.history("t")][-1] == s2.snapshot_id
    cat.expire_snapshots("t", keep_last=1)
    # current-state read must still resolve: s2's dirs were NOT deleted
    assert _vals(cat.read_table("t")) == [(2, "b", "y")]
    # recovery converges: the next commit supersedes the phantom line
    s3 = cat.write_table(_df(spark, [(3, "c", "z")]), "t")
    assert cat.snapshot("t").snapshot_id == s3.snapshot_id
    assert _vals(cat.read_table("t")) == [(3, "c", "z")]


def test_tables_lists_committed_tables(spark, cat):
    assert cat.tables() == []
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.write_table(_df(spark, [(2, "b", "y")]), "agg_by_route")
    assert cat.tables() == ["agg_by_route", "t"]


def test_phantom_log_line_excluded_even_after_next_commit(spark, cat):
    """Chain-walking history: a phantom (uncommitted) log line must stay
    out of history even once later commits make it an INTERIOR line —
    tail-truncation alone would resurrect it (review r02 finding)."""
    from dataclasses import asdict

    from log_parser_project_spark.catalog import Snapshot

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    phantom = Snapshot(
        snapshot_id="feedfeed", table="t", row_count=1, committed_at_unix=0.0,
        parent_id=s2.snapshot_id, op="overwrite",
        state=[{"dir": "t/snap-00003-feedfeed", "exclude": []}], sequence=3,
    )
    with open(cat._log_path("t"), "a") as f:
        f.write(json.dumps(asdict(phantom)) + "\n")
    # recovery: the next commit parents onto s2, leaving the phantom
    # as an interior line
    s3 = cat.write_table(_df(spark, [(3, "c", "z")]), "t")
    ids = [h.snapshot_id for h in cat.history("t")]
    assert "feedfeed" not in ids
    assert ids[-2:] == [s2.snapshot_id, s3.snapshot_id]
    with pytest.raises(LookupError):
        cat.read_table("t", as_of="feedfeed")


def test_compact_rewrites_small_files(spark, cat):
    """Many small append snapshots → compact() commits one snapshot with
    far fewer files, identical rows, and time travel to the pre-compact
    state still works."""
    import glob

    for i in range(6):
        cat.write_table(
            _df(spark, [(i * 10 + j, "a", f"v{i}-{j}") for j in range(4)]).repartition(4),
            "t", mode="append" if i else "overwrite",
        )
    before = cat.snapshot("t")
    n_files_before = len(glob.glob(os.path.join(cat.warehouse, "t", "snap-*", "*.parquet")))
    rows_before = _vals(cat.read_table("t"))
    assert n_files_before >= 20  # genuinely fragmented

    snap = cat.compact("t")
    # row_count is the LIVE table's count (24), not the last delta's (4)
    assert snap.op == "overwrite" and snap.row_count == len(rows_before) == 24
    live_dir = os.path.join(cat.warehouse, snap.state[0]["dir"])
    n_files_after = len(glob.glob(os.path.join(live_dir, "*.parquet")))
    assert n_files_after <= 2  # tiny table → ~1 file
    assert _vals(cat.read_table("t")) == rows_before
    assert _vals(cat.read_table("t", as_of=before.snapshot_id)) == rows_before


def test_write_bucketed_refuses_rmtree_inside_warehouse(spark, tmp_path):
    """The overwrite path derives the managed-table location from
    spark.sql.warehouse.dir; if that lies inside the snapshot-catalog
    warehouse, <wh>/<table> can be a path-based table's data dir — the
    guard must refuse to delete it (ADVICE r02)."""
    import os

    import pytest as _pytest

    from log_parser_project_spark.catalog import SnapshotCatalog

    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    cat = SnapshotCatalog(spark, os.path.dirname(wh.rstrip("/")) or wh)
    # simulate a stale managed location under the catalog warehouse
    loc = os.path.join(wh, "bkt_guard_tbl")
    os.makedirs(loc, exist_ok=True)
    df = spark.range(10).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="refusing to clear"):
        cat.write_bucketed(df, "bkt_guard_tbl", bucket_by="k", n_buckets=2)
    assert os.path.isdir(loc)  # nothing was deleted


# ---------------------------------------------------------------------------
# MERGE INTO (copy-on-write upsert/delete)
# ---------------------------------------------------------------------------

def test_merge_upsert_updates_and_inserts(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    src = _df(spark, [(2, "b", "Y2"), (3, "c", "z")])
    s2 = cat.merge(src, "t", on=["k"])
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "Y2"), (3, "c", "z")]
    # pre-merge state stays time-travelable; lineage records the op
    assert _vals(cat.read_table("t", as_of=s1.snapshot_id)) == [(1, "a", "x"), (2, "b", "y")]
    assert s2.lineage["stage"] == "merge" and s2.lineage["on"] == ["k"]


def test_merge_delete_removes_matched_rows(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]), "t")
    src = _df(spark, [(2, "b", "ignored"), (9, "q", "notarget")])
    cat.merge(src, "t", on=["k"], when_matched="delete", when_not_matched=None)
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (3, "c", "z")]


def test_merge_guards(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate keys"):
        cat.merge(_df(spark, [(2, "b", "y"), (2, "c", "z")]), "t", on=["k"])
    with _pytest.raises(ValueError, match="columns"):
        cat.merge(spark.createDataFrame([(1, "a")], "k int, route string"), "t", on=["k"])
    with _pytest.raises(LookupError):
        cat.merge(_df(spark, [(1, "a", "x")]), "missing", on=["k"])
    with _pytest.raises(ValueError, match="no-op"):
        cat.merge(_df(spark, [(1, "a", "x")]), "t", on=["k"],
                  when_matched=None, when_not_matched=None)
    # empty source commits nothing — same snapshot comes back
    before = cat.snapshot("t")
    after = cat.merge(_df(spark, []), "t", on=["k"])
    assert after.snapshot_id == before.snapshot_id


def test_merge_not_matched_by_source_full_sync(spark, cat):
    """update + insert + not-matched-by-source delete = mirror sync:
    the target becomes exactly the source's image."""
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]), "t")
    src = _df(spark, [(2, "b", "Y2"), (4, "d", "w")])
    s = cat.merge(src, "t", on=["k"], when_not_matched_by_source="delete")
    assert _vals(cat.read_table("t")) == [(2, "b", "Y2"), (4, "d", "w")]
    assert s.lineage["when_not_matched_by_source"] == "delete"


def test_merge_not_matched_by_source_keeps_matched_without_clause(spark, cat):
    """nmbs=delete with NO matched clause: prune the target to the
    source's key set, keeping the target's own row images."""
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]), "t")
    src = _df(spark, [(1, "zz", "ignored"), (3, "zz", "ignored")])
    cat.merge(src, "t", on=["k"], when_matched=None, when_not_matched=None,
              when_not_matched_by_source="delete")
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (3, "c", "z")]


def test_merge_not_matched_by_source_is_global_over_partitions(spark, cat):
    """The clause sees partitions the source never touched — it must
    force the full-rewrite path, not the partition-pruned one."""
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), "t", partition_by=["route"]
    )
    src = _df(spark, [(1, "a", "X2")])  # touches only route=a
    cat.merge(src, "t", on=["route", "k"], partition_by=["route"],
              when_not_matched_by_source="delete")
    # (2, b) lives in an untouched partition and is still deleted
    assert _vals(cat.read_table("t")) == [(1, "a", "X2")]


def test_merge_not_matched_by_source_empty_source_deletes_all(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    cat.merge(_df(spark, []), "t", on=["k"], when_not_matched_by_source="delete")
    assert cat.read_table("t", schema="k int, route string, v string").count() == 0


def test_merge_not_matched_by_source_guards(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    with pytest.raises(ValueError, match="delete/None"):
        cat.merge(_df(spark, [(1, "a", "x")]), "t", on=["k"],
                  when_not_matched_by_source="update")
    with pytest.raises(ValueError, match="strategy='cow'"):
        cat.merge(_df(spark, [(1, "a", "x")]), "t", on=["k"],
                  strategy="mor", when_not_matched_by_source="delete")


def test_merge_partition_pruned_rewrites_only_touched_partitions(spark, cat):
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "b", "y2"), (4, "c", "w")]),
        "t",
        partition_by=["route"],
    )
    old_dirs = {e["dir"] for e in cat.snapshot("t").state}
    # keys include the partition column -> CoW at partition granularity
    src = _df(spark, [(2, "b", "UPD"), (9, "b", "INS")])
    s2 = cat.merge(src, "t", on=["route", "k"], partition_by=["route"])
    assert _vals(cat.read_table("t")) == [
        (1, "a", "x"), (2, "b", "UPD"), (3, "b", "y2"), (4, "c", "w"), (9, "b", "INS")
    ]
    # the commit is replace_partitions: old dirs stay in state with ONLY
    # route=b masked; a and c files carry over un-rewritten
    assert s2.op == "replace_partitions"
    carried = [e for e in s2.state if e["dir"] in old_dirs]
    assert carried and all(e["exclude"] == ["route=b"] for e in carried)


def test_replaced_subtree_is_masked_once(spark, cat):
    """Re-running group 1 of a (group, route)-partitioned table masks the
    group-1 entry by ``group=1`` alone: the ``group=1/route=…`` leaves
    under it would mask nothing more."""
    import pyspark.sql.functions as F

    def group(g, rows):
        return _df(spark, rows).withColumn("group", F.lit(g))

    for g in (0, 1):
        cat.write_table(
            group(g, [(g, "a", "x"), (g, "b", "y")]), "t", mode="replace_partitions",
            partition_by=["group", "route"], replace_leaves=[f"group={g}"],
        )
    snap = cat.write_table(
        group(1, [(7, "a", "new"), (8, "c", "new")]), "t", mode="replace_partitions",
        partition_by=["group", "route"], replace_leaves=["group=1"],
    )
    assert [e["exclude"] for e in snap.state] == [[], ["group=1"], []]
    assert _vals(cat.read_table("t")) == [
        (0, "a", "x"), (0, "b", "y"), (7, "a", "new"), (8, "c", "new")
    ]


def test_merge_delete_entire_partition_masks_its_leaf(spark, cat):
    """A partition whose rows are ALL deleted writes no leaf dir — the
    explicit replace_leaves mask must still hide its old rows."""
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "b", "y2")]),
        "t",
        partition_by=["route"],
    )
    src = _df(spark, [(2, "b", "-"), (3, "b", "-")])
    cat.merge(src, "t", on=["route", "k"], partition_by=["route"],
              when_matched="delete", when_not_matched=None)
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]


def test_merge_key_moves_partition_falls_back_to_full_rewrite(spark, cat):
    """Merge keys that DON'T pin the partition (on=[k], partitioned by
    route) can move a row across partitions; the merge must degrade to
    a full-table rewrite and still be correct."""
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), "t", partition_by=["route"]
    )
    s2 = cat.merge(_df(spark, [(2, "c", "moved")]), "t", on=["k"], partition_by=["route"])
    assert s2.op == "overwrite"
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "c", "moved")]


def test_leaf_path_escaping_matches_spark_layout(spark, cat):
    """Partition values with path-hostile characters: the computed mask
    must match the leaf dir partitionBy actually writes."""
    df = spark.createDataFrame([(1, "a/b:c", "x"), (2, "plain", "y")],
                               "k int, route string, v string")
    cat.write_table(df, "t", partition_by=["route"])
    src = spark.createDataFrame([(1, "a/b:c", "UPD")], "k int, route string, v string")
    cat.merge(src, "t", on=["route", "k"], partition_by=["route"])
    assert _vals(cat.read_table("t")) == [(1, "a/b:c", "UPD"), (2, "plain", "y")]
    snap = cat.snapshot("t")
    leaves = {x for e in snap.state for x in e["exclude"]}
    assert leaves == {"route=a%2Fb%3Ac"}


# ---------------------------------------------------------------------------
# add-column schema evolution
# ---------------------------------------------------------------------------

def test_append_adds_column_old_rows_read_null(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    wide = spark.createDataFrame([(2, "b", "y", 0.5)],
                                 "k int, route string, v string, score double")
    cat.write_table(wide, "t", mode="append")
    cur = cat.read_table("t")
    assert set(cur.columns) == {"k", "route", "v", "score"}
    rows = {r.k: r.score for r in cur.collect()}
    assert rows == {1: None, 2: 0.5}
    # time travel reads the PRE-evolution snapshot under its own schema
    old = cat.read_table("t", as_of=s1.snapshot_id)
    assert set(old.columns) == {"k", "route", "v"}


def test_append_schema_guards(spark, cat):
    import pytest as _pytest

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    with _pytest.raises(ValueError, match="lacks table columns"):
        cat.write_table(spark.createDataFrame([(2, "b")], "k int, route string"),
                        "t", mode="append")
    with _pytest.raises(ValueError, match="changes the type"):
        cat.write_table(
            spark.createDataFrame([(2, "b", 7)], "k int, route string, v int"),
            "t", mode="append")
    # overwrite resets the schema freely
    cat.write_table(spark.createDataFrame([(2, "b")], "k int, route string"), "t")
    assert set(cat.read_table("t").columns) == {"k", "route"}


def test_evolution_survives_partitioned_replace(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t",
                    partition_by=["route"])
    wide = spark.createDataFrame([(9, "b", "NEW", 42)],
                                 "k int, route string, v string, extra int")
    cat.write_table(wide, "t", mode="replace_partitions", partition_by=["route"])
    cur = cat.read_table("t")
    got = sorted((r.k, r.route, r.v, r.extra) for r in cur.collect())
    assert got == [(1, "a", "x", None), (9, "b", "NEW", 42)]


# ---------------------------------------------------------------------------
# manifest min/max file skipping
# ---------------------------------------------------------------------------

def test_predicate_prunes_files_at_planning_time(spark, cat):
    """stats_cols commits per-file min/max from parquet footers;
    read_table(predicate=...) must plan strictly fewer files and still
    return every matching row."""
    df = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2
    )
    # range-partitioned write -> disjoint per-file k ranges
    cat.write_table(df.repartitionByRange(8, "k"), "t", stats_cols=["k"])
    snap = cat.snapshot("t")
    assert snap.state[0].get("files"), "stats must be recorded in the manifest"
    all_files = cat.read_table("t").inputFiles()
    pruned = cat.read_table("t", predicate=("k", 100, 150))
    assert len(pruned.inputFiles()) < len(all_files)
    got = sorted(r.k for r in pruned.filter(F.col("k").between(100, 150)).collect())
    assert got == list(range(100, 151))
    # open bounds
    lo_only = cat.read_table("t", predicate=("k", 900, None))
    assert len(lo_only.inputFiles()) < len(all_files)
    assert lo_only.filter(F.col("k") >= 900).count() == 100


def test_predicate_keeps_files_without_stats(spark, cat):
    """Append without stats_cols: its files carry no ranges and must
    never be pruned (correctness over pruning)."""
    df1 = spark.range(0, 100).withColumnRenamed("id", "k")
    df2 = spark.range(100, 200).withColumnRenamed("id", "k")
    cat.write_table(df1.repartitionByRange(4, "k"), "t", stats_cols=["k"])
    cat.write_table(df2, "t", mode="append")  # no stats
    out = cat.read_table("t", predicate=("k", 150, 160))
    assert out.filter(F.col("k").between(150, 160)).count() == 11


def test_predicate_on_timestamp_column(spark, cat):
    import datetime as dt

    rows = [(i, dt.datetime(2026, 1, 1 + i // 10, i % 10)) for i in range(40)]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    cat.write_table(df.repartitionByRange(4, "ts"), "t", stats_cols=["ts"])
    all_n = len(cat.read_table("t").inputFiles())
    day2 = (dt.datetime(2026, 1, 2).isoformat(), dt.datetime(2026, 1, 2, 23).isoformat())
    pruned = cat.read_table("t", predicate=("ts", day2[0], day2[1]))
    assert len(pruned.inputFiles()) < all_n
    assert (
        pruned.filter(F.col("ts").between("2026-01-02", "2026-01-03")).count() == 10
    )


def test_pipeline_staging_records_ts_stats_and_read_sink_prunes(spark, transcripts_small, tmp_path):
    from log_parser_project_spark.plans.pipeline import STAGING_TABLE, read_sink, run_pipeline

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, transcripts_small, cat)
    snap = cat.snapshot(STAGING_TABLE)
    files = snap.state[0].get("files", {})
    assert files and all("ts" in st for st in files.values())
    all_files = cat.read_table(STAGING_TABLE).inputFiles()
    lo = min(st["ts"][0] for st in files.values())
    narrow = read_sink(cat, "sink_errors", ts_range=(None, lo))
    assert len(narrow.inputFiles()) < len(all_files)
    # exactness: window filter on top of pruning == filter on full scan
    full = read_sink(cat, "sink_errors").filter(F.col("ts") <= F.lit(lo)).count()
    assert narrow.count() == full


def test_read_sink_upper_bound_on_a_files_smallest_ts(spark, transcripts_small, tmp_path):
    """An upper bound exactly on a file's smallest ts keeps that file,
    whether the bound is a naive ISO string, a naive datetime (both in
    the session time zone, UTC) or an aware datetime."""
    import datetime

    from log_parser_project_spark.plans.pipeline import STAGING_TABLE, read_sink, run_pipeline

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, transcripts_small, cat, write_repeats=False)
    files = cat.snapshot(STAGING_TABLE).state[0]["files"]
    edge = max(st["ts"][0] for f, st in files.items() if "route=sink_errors" in f)
    aware = datetime.datetime.fromisoformat(edge)
    assert aware.utcoffset() == datetime.timedelta(0)
    naive = aware.replace(tzinfo=None)
    full = read_sink(cat, "sink_errors").filter(F.col("ts") <= F.lit(aware)).count()
    assert full > 0
    for hi in (naive.isoformat(), naive, aware):
        assert read_sink(cat, "sink_errors", (None, hi)).count() == full, hi


def test_sort_order_makes_file_skipping_selective(spark, cat):
    """Global write sort order: without it a randomly-distributed write
    leaves every file spanning the whole domain (skipping never fires);
    with it, a narrow range predicate plans a small fraction of files."""
    df = (
        spark.range(0, 10_000)
        .withColumnRenamed("id", "k")
        .withColumn("r", F.pmod(F.xxhash64("k"), F.lit(97)))
        .orderBy("r")  # scramble so input order carries no k locality
        .drop("r")
        .repartition(8)
    )
    cat.write_table(df, "unsorted", stats_cols=["k"])
    cat.write_table(df, "sorted", stats_cols=["k"], sort_by=["k"])
    pred = ("k", 4_000, 4_100)
    n_uns = len(cat.read_table("unsorted", predicate=pred).inputFiles())
    n_srt = len(cat.read_table("sorted", predicate=pred).inputFiles())
    total = len(cat.read_table("sorted").inputFiles())
    assert n_uns == len(cat.read_table("unsorted").inputFiles())  # no pruning
    assert n_srt <= max(2, total // 4)  # tight ranges -> most files skipped
    got = (
        cat.read_table("sorted", predicate=pred)
        .filter(F.col("k").between(*pred[1:])).count()
    )
    assert got == 101


# ---------------------------------------------------------------------------
# per-file bloom-filter skipping (equality probes on high-entropy keys)
# ---------------------------------------------------------------------------

def test_bloom_prunes_files_for_equality_probe(spark, cat):
    """Hash-distributed key: every file's min/max spans the domain
    (range stats useless), but each file holds ~1/8 of the keys — the
    bloom must plan a small fraction of files for eq probes and still
    return every matching row."""
    df = (
        spark.range(0, 4_000)
        .select(F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
                (F.col("id") % 7).alias("v"))
        .repartition(8, "conv_id")
    )
    cat.write_table(df, "t", bloom_cols=["conv_id"])
    assert os.path.isfile(
        os.path.join(cat.warehouse, cat.snapshot("t").state[0]["dir"], "_bloom.json")
    )
    total = len(cat.read_table("t").inputFiles())
    assert total == 8
    # present keys: planned files must shrink, and rows must survive
    pruned_counts = []
    for key in ("conv-17", "conv-1234", "conv-3999"):
        got = cat.read_table("t", eq=("conv_id", key))
        pruned_counts.append(len(got.inputFiles()))
        assert got.filter(F.col("conv_id") == key).count() == 1
    # each key lives in exactly one file; fp rate ~2% -> typically 1
    assert max(pruned_counts) <= 3
    # absent key: bloom proves absence in (almost) every file
    absent = cat.read_table("t", eq=("conv_id", "conv-999999"))
    assert len(absent.inputFiles()) <= 2
    assert absent.filter(F.col("conv_id") == "conv-999999").count() == 0


def test_bloom_keeps_files_without_blooms(spark, cat):
    """Appends committed without bloom_cols must never be pruned, and
    probing a column with no blooms anywhere is a no-op."""
    a = spark.createDataFrame([("k1", 1), ("k2", 2)], "conv_id string, v int")
    b = spark.createDataFrame([("k3", 3)], "conv_id string, v int")
    cat.write_table(a, "t", bloom_cols=["conv_id"])
    cat.write_table(b, "t", mode="append")  # no blooms
    got = cat.read_table("t", eq=("conv_id", "k3"))
    assert got.filter(F.col("conv_id") == "k3").count() == 1
    # column without blooms: every file kept
    got2 = cat.read_table("t", eq=("v", 3))
    assert got2.count() == 3


def test_bloom_composes_with_range_predicate(spark, cat):
    """eq (bloom) and predicate (min/max) prune independently; both
    applied -> intersection of survivors, rows intact."""
    df = (
        spark.range(0, 2_000)
        .select(F.concat(F.lit("c"), (F.col("id") % 50)).alias("conv_id"),
                F.col("id").alias("k"))
    )
    cat.write_table(
        df, "t", stats_cols=["k"], sort_by=["k"], bloom_cols=["conv_id"]
    )
    both = cat.read_table("t", predicate=("k", 100, 200), eq=("conv_id", "c7"))
    only_rng = cat.read_table("t", predicate=("k", 100, 200))
    assert len(both.inputFiles()) <= len(only_rng.inputFiles())
    want = df.filter((F.col("k").between(100, 200)) & (F.col("conv_id") == "c7")).count()
    got = both.filter((F.col("k").between(100, 200)) & (F.col("conv_id") == "c7")).count()
    assert got == want and want > 0


def test_bloom_eq_validation(spark, cat):
    cat.write_table(spark.createDataFrame([("a", 1)], "c string, v int"), "t")
    with pytest.raises(ValueError):
        cat.read_table("t", eq=("c",))
    with pytest.raises(ValueError):
        cat.read_table("t", eq=("c", None))


# ---------------------------------------------------------------------------
# z-order compaction (multi-column file skipping)
# ---------------------------------------------------------------------------

def test_zorder_compact_prunes_on_both_dimensions(spark, cat):
    """Linear sort prunes only its own column (every file spans the
    other domain); z-order compaction must prune on BOTH columns, with
    rows intact."""
    df = (
        spark.range(0, 20_000)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("y"),
            F.col("id").alias("v"),
        )
        .repartition(16)
    )
    # explicit partition counts: AQE would coalesce a tiny range
    # shuffle into one file and leave nothing to prune
    cat.write_table(
        df.repartitionByRange(16, "x").sortWithinPartitions("x"),
        "lin",
        stats_cols=["x", "y"],
    )
    cat.write_table(df, "zo")
    cat.compact("zo", target_file_bytes=12_000, zorder_by=["x", "y"])
    n_lin = len(cat.read_table("lin").inputFiles())
    n_zo = len(cat.read_table("zo").inputFiles())
    assert n_zo >= 8  # enough files for pruning to be meaningful

    px, py = ("x", 100, 150), ("y", 800, 850)
    lin_x = len(cat.read_table("lin", predicate=px).inputFiles())
    lin_y = len(cat.read_table("lin", predicate=py).inputFiles())
    zo_x = len(cat.read_table("zo", predicate=px).inputFiles())
    zo_y = len(cat.read_table("zo", predicate=py).inputFiles())
    # linear: sharp on x, blind on y
    assert lin_x < n_lin and lin_y == n_lin
    # z-order: prunes meaningfully on BOTH
    assert zo_x <= n_zo // 2 and zo_y <= n_zo // 2, (zo_x, zo_y, n_zo)

    want = df.filter(F.col("x").between(100, 150)).count()
    got = (
        cat.read_table("zo", predicate=px).filter(F.col("x").between(100, 150)).count()
    )
    assert got == want
    # lineage records the clustering
    assert cat.snapshot("zo").lineage["zorder_by"] == ["x", "y"]


def test_zvalue_interleaves_bits(spark):
    """Morton key spot check: bucket bits of col j land at i*d + j."""
    from log_parser_project_spark.operators.zorder import zvalue

    # domain [0, 255] with 256 buckets -> bucket == value
    df = spark.createDataFrame(
        [(0, 0), (255, 255), (0, 255), (3, 5)], "a int, b int"
    ).union(spark.createDataFrame([(0, 0), (255, 255)], "a int, b int"))
    rows = {(r.a, r.b): r.z for r in df.select("a", "b", zvalue(df, ["a", "b"]).alias("z")).collect()}
    assert rows[(0, 0)] == 0
    assert rows[(255, 255)] == 0xFFFF
    assert rows[(0, 255)] == 0xAAAA  # b's bits at odd positions
    # a=3 (0b11) at even positions = 0b0101; b=5 (0b101) at odd = 0b100010
    assert rows[(3, 5)] == (0b101 | 0b100010)


def test_zorder_requires_two_columns(spark):
    from log_parser_project_spark.operators.zorder import zvalue

    df = spark.range(3).select(F.col("id").alias("a"))
    with pytest.raises(ValueError):
        zvalue(df, ["a"])


def test_bloom_probe_matches_typed_values(spark, cat):
    """The probe must hash Spark's CAST(col AS STRING) image of the
    typed value, not python str(): booleans render 'true'/'True' and
    big doubles '1.0E20'/'1e+20' differently, and a formatting drift is
    a silent false negative (present rows pruned away)."""
    df = spark.createDataFrame(
        [(True, 1e20, 1), (False, 2.5, 2)], "flag boolean, x double, v int"
    )
    cat.write_table(df, "typed", bloom_cols=["flag", "x"])
    assert cat.read_table("typed", eq=("flag", True)).filter("flag").count() == 1
    assert (
        cat.read_table("typed", eq=("x", 1e20)).filter(F.col("x") == 1e20).count()
        == 1
    )
    # and the two-column sidecar is complete (single-pass build)
    import base64 as _b64  # noqa: F401

    side = json.load(
        open(
            os.path.join(
                cat.warehouse, cat.snapshot("typed").state[0]["dir"], "_bloom.json"
            )
        )
    )
    for per_file in side["files"].values():
        assert set(per_file) == {"flag", "x"}


def test_zvalue_wide_column_lists_stay_in_value_bits(spark):
    """8+ columns must not push interleaved bits into the long's sign
    bit (max-bucket rows would sort FIRST) nor wrap shift amounts mod
    64 — bits-per-column is capped so extreme corners stay ordered."""
    from log_parser_project_spark.operators.zorder import zvalue

    for ncols in (8, 9):
        cols = [f"c{i}" for i in range(ncols)]
        df = spark.range(0, 100).select(
            *[F.col("id").alias(c) for c in cols]
        )
        zmap = {
            r.c0: r.z
            for r in df.select(F.col("c0"), zvalue(df, cols).alias("z")).collect()
        }
        assert all(z >= 0 for z in zmap.values()), ncols
        # extreme corners land in the extreme cells (top-bucket ties ok)
        assert zmap[0] == min(zmap.values()), ncols
        assert zmap[99] == max(zmap.values()), ncols


# --------------------------------------------------- rollback / orphans

def test_rollback_restores_ancestor_and_next_commit_parents_onto_it(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    restored = cat.rollback("t", s1.snapshot_id)
    assert restored.snapshot_id == s1.snapshot_id
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]
    # the rolled-back-over snapshot is a dead branch: gone from history
    assert [s.snapshot_id for s in cat.history("t")] == [s1.snapshot_id]
    # but its data dir is still on disk until orphan collection
    assert any(e["dir"] for e in s2.state
               if os.path.isdir(os.path.join(cat.warehouse, e["dir"])))
    # next commit parents onto the restored snapshot
    s3 = cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    assert s3.parent_id == s1.snapshot_id
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (3, "c", "z")]
    # rolling "forward" to the abandoned branch is rejected
    with pytest.raises(LookupError):
        cat.rollback("t", s2.snapshot_id)


def test_remove_orphan_files_collects_dead_branch_and_crash_leftovers(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    cat.rollback("t", s1.snapshot_id)
    # a crash leftover: data dir written, pointer never flipped
    fake = os.path.join(cat.path("t"), "snap-99999-deadbeef")
    os.makedirs(fake)
    with open(os.path.join(fake, "part-0.parquet"), "w") as f:
        f.write("not really parquet")
    # age guard first: nothing younger than the cutoff is touched
    assert cat.remove_orphan_files("t", older_than_s=3600) == []
    removed = cat.remove_orphan_files("t", older_than_s=0)
    dead = s2.state[-1]["dir"]
    assert sorted(removed) == sorted([dead, "t/snap-99999-deadbeef"])
    assert not os.path.isdir(os.path.join(cat.warehouse, dead))
    # live data untouched, table still reads
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]
    assert cat.remove_orphan_files("t", older_than_s=0) == []  # idempotent


def test_remove_orphan_files_collects_expiry_leak(spark, cat, monkeypatch):
    import shutil as _sh

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.write_table(_df(spark, [(2, "b", "y")]), "t")  # overwrite: dir1 now dead
    # simulate a crash between expire's log truncation and its deletes
    monkeypatch.setattr(_sh, "rmtree", lambda *a, **k: None)
    leaked = cat.expire_snapshots("t", keep_last=1)
    monkeypatch.undo()
    assert leaked  # expire *reported* dirs it then failed to delete
    assert all(os.path.isdir(os.path.join(cat.warehouse, d)) for d in leaked)
    removed = cat.remove_orphan_files("t", older_than_s=0)
    assert sorted(removed) == sorted(leaked)
    assert _vals(cat.read_table("t")) == [(2, "b", "y")]


# --------------------------------------------------- metadata tables

def test_files_and_partitions_metadata(spark, cat):
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "b", "y2")]),
        "t", partition_by=["route"],
    )
    cat.write_table(
        _df(spark, [(9, "b", "NEW")]), "t",
        mode="replace_partitions", partition_by=["route"],
    )
    files = cat.files_metadata("t").collect()
    # every listed file exists and is live (masked route=b of dir1 excluded)
    assert files and all(
        os.path.isfile(os.path.join(cat.warehouse, r.file_path)) for r in files
    )
    assert all(r.size_bytes > 0 for r in files)
    by_part = {r.partition: r for r in cat.partitions_metadata("t").collect()}
    assert set(by_part) == {"route=a", "route=b"}
    # route=b lives ONLY in the replacement dir
    b_files = [r for r in files if r.partition == "route=b"]
    assert {r.snapshot_dir for r in b_files} == {cat.snapshot("t").state[-1]["dir"]}
    # totals agree with a real scan (route=b's 2 rows replaced by 1)
    assert cat.read_table("t").count() == 2
    # metadata matches the filesystem byte-for-byte
    for r in files:
        assert r.size_bytes == os.path.getsize(os.path.join(cat.warehouse, r.file_path))
    assert sum(r.file_count for r in by_part.values()) == len(files)


def test_snapshots_metadata_mirrors_history(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t", lineage={"stage": "first"})
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    rows = cat.snapshots_metadata("t").orderBy("sequence").collect()
    assert [(r.snapshot_id, r.parent_id, r.op) for r in rows] == [
        (s1.snapshot_id, None, "overwrite"),
        (s2.snapshot_id, s1.snapshot_id, "append"),
    ]
    assert json.loads(rows[0].lineage_json) == {"stage": "first"}


# --------------------------------------------------- write-audit-publish

def test_wap_stage_audit_publish(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", staged=True)
    assert staged.staged and staged.parent_id == s1.snapshot_id
    # readers keep seeing the parent state; the audit sees the stage
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]
    assert _vals(cat.read_table("t", as_of=staged.snapshot_id)) == [
        (1, "a", "x"), (2, "b", "y")
    ]
    assert [s.snapshot_id for s in cat.history("t")] == [s1.snapshot_id]
    pub = cat.publish("t", staged.snapshot_id)
    assert not pub.staged
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "y")]
    assert [s.snapshot_id for s in cat.history("t")] == [
        s1.snapshot_id, staged.snapshot_id
    ]
    # published dir is live: the orphan sweep leaves it alone
    assert cat.remove_orphan_files("t", older_than_s=0) == []


def test_wap_stale_stage_is_rejected(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", staged=True)
    cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")  # table advanced
    with pytest.raises(ValueError, match="stale stage"):
        cat.publish("t", staged.snapshot_id)
    with pytest.raises(LookupError):
        cat.publish("t", "doesnotexist0000")


def test_wap_pending_stage_survives_sweep_and_expiry(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", staged=True)
    stage_dir = staged.state[-1]["dir"]
    # pending stage is protected from the orphan sweep by default...
    assert cat.remove_orphan_files("t", older_than_s=0) == []
    # ...and from expiry, including the parent dirs it inherits
    cat.write_table(_df(spark, [(3, "c", "z")]), "t")  # overwrite moves the pointer
    cat.expire_snapshots("t", keep_last=1)
    assert _vals(cat.read_table("t", as_of=staged.snapshot_id)) == [
        (1, "a", "x"), (2, "b", "y")
    ]
    # the advanced pointer makes the stage stale — abandon it explicitly
    removed = cat.remove_orphan_files("t", older_than_s=0, sweep_staged=True)
    assert stage_dir in removed
    assert _vals(cat.read_table("t")) == [(3, "c", "z")]


def test_wap_crash_phantom_stays_unreachable(spark, cat):
    import json as _json
    from dataclasses import asdict as _asdict

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    # a crash between log append and pointer flip: staged=False line,
    # pointer still at s1 — not addressable, unlike a staged snapshot
    phantom = dict(_asdict(s1), snapshot_id="phantom000000000", parent_id=s1.snapshot_id)
    with open(cat._log_path("t"), "a") as f:
        f.write(_json.dumps(phantom) + "\n")
    with pytest.raises(LookupError):
        cat.read_table("t", as_of="phantom0000000000"[:16])
    assert [s.snapshot_id for s in cat.history("t")] == [s1.snapshot_id]


def test_pipeline_audit_gate_publishes_good_batch(spark, transcripts_small, tmp_path):
    from log_parser_project_spark.plans.pipeline import (
        STAGING_TABLE, read_sink, run_pipeline,
    )

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, transcripts_small, cat, write_repeats=False, audit=True)
    assert res.sink_counts["sink_errors"] > 0
    assert read_sink(cat, "sink_errors").count() == res.sink_counts["sink_errors"]
    snap = cat.snapshot(STAGING_TABLE)
    assert snap.snapshot_id == res.staging_snapshot and not snap.staged
    # nothing staged left behind
    assert cat.remove_orphan_files(STAGING_TABLE, older_than_s=0) == []


def test_pipeline_audit_gate_abandons_bad_batch(spark, transcripts_small, tmp_path):
    from log_parser_project_spark.plans.pipeline import (
        STAGING_TABLE, AuditError, run_pipeline,
    )

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    good = run_pipeline(spark, transcripts_small, cat, write_repeats=False, audit=True)

    def reject_everything(df):
        return [f"synthetic violation: {df.count()} rows"]

    with pytest.raises(AuditError, match="synthetic violation"):
        run_pipeline(
            spark, transcripts_small, cat, write_repeats=False, audit=reject_everything
        )
    # readers still see the last good snapshot; the stage is gone
    assert cat.snapshot(STAGING_TABLE).snapshot_id == good.staging_snapshot
    assert cat.remove_orphan_files(STAGING_TABLE, older_than_s=0, sweep_staged=True) == []


def test_rollback_rejects_staged_snapshot(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", staged=True)
    with pytest.raises(LookupError, match="not an ancestor"):
        cat.rollback("t", staged.snapshot_id)
    assert cat.snapshot("t").snapshot_id == s1.snapshot_id


def test_sweep_staged_drops_the_log_line_too(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", staged=True)
    removed = cat.remove_orphan_files("t", older_than_s=0, sweep_staged=True)
    assert staged.state[-1]["dir"] in removed
    # no dangling publishable id pointing at deleted data
    with pytest.raises(LookupError):
        cat.publish("t", staged.snapshot_id)
    with pytest.raises(LookupError):
        cat.read_table("t", as_of=staged.snapshot_id)


def test_crashing_audit_abandons_its_stage(spark, transcripts_small, tmp_path):
    from log_parser_project_spark.plans.pipeline import STAGING_TABLE, run_pipeline

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    good = run_pipeline(spark, transcripts_small, cat, write_repeats=False, audit=True)

    def broken_audit(df):
        raise RuntimeError("audit job crashed")

    with pytest.raises(RuntimeError, match="audit job crashed"):
        run_pipeline(
            spark, transcripts_small, cat, write_repeats=False, audit=broken_audit
        )
    # the crashed run's stage was abandoned, not leaked as pending
    assert cat._pending_stages(STAGING_TABLE) == []
    assert cat.snapshot(STAGING_TABLE).snapshot_id == good.staging_snapshot


def test_compact_preserves_partition_layout_by_default(spark, cat):
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), "t", partition_by=["route"]
    )
    cat.write_table(
        _df(spark, [(3, "a", "z")]), "t", mode="append", partition_by=["route"]
    )
    cat.compact("t", target_file_bytes=1)
    parts = {r.partition for r in cat.partitions_metadata("t").collect()}
    assert parts == {"route=a", "route=b"}  # layout survived the rewrite
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "y"), (3, "a", "z")]
    # explicit None flattens
    cat.compact("t", target_file_bytes=10**9, partition_by=None)
    assert {r.partition for r in cat.partitions_metadata("t").collect()} == {""}


def test_time_travel_by_timestamp(spark, cat):
    import datetime
    import time as _time

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    _time.sleep(0.05)
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    mid = (s1.committed_at_unix + s2.committed_at_unix) / 2
    # epoch float, ISO string, and datetime all resolve to s1
    assert _vals(cat.read_table("t", as_of=mid)) == [(1, "a", "x")]
    # naive inputs are documented as UTC — build them from UTC so the
    # test is host-timezone-independent (a local-time naive value would
    # resolve to the wrong snapshot on any non-UTC host)
    naive_utc = datetime.datetime.fromtimestamp(
        mid, tz=datetime.timezone.utc
    ).replace(tzinfo=None)
    assert _vals(cat.read_table("t", as_of=naive_utc.isoformat())) == [(1, "a", "x")]
    assert _vals(cat.read_table("t", as_of=naive_utc)) == [(1, "a", "x")]
    # at-or-after the second commit resolves to s2
    assert _vals(cat.read_table("t", as_of=s2.committed_at_unix)) == [(2, "b", "y")]
    # before the first commit: nothing existed
    with pytest.raises(LookupError, match="at or before"):
        cat.read_table("t", as_of=s1.committed_at_unix - 10)
    # garbage string is neither id nor time
    with pytest.raises(LookupError):
        cat.read_table("t", as_of="not-a-snapshot-or-time")


def test_rollback_to_timestamp(spark, cat):
    import time as _time

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    _time.sleep(0.05)
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    mid = (s1.committed_at_unix + s2.committed_at_unix) / 2
    restored = cat.rollback("t", mid)
    assert restored.snapshot_id == s1.snapshot_id
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]


def test_id_shaped_strings_never_resolve_as_timestamps(spark, cat):
    import time as _time

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    _time.sleep(0.02)
    cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    # ~1 in 750 uuid ids is float()-parsable (all digits, or 12e345...);
    # an expired/foreign id must raise, never resolve as an epoch time
    for fake_id in ("1234567890123456", "12e3456789012345"):
        with pytest.raises(LookupError):
            cat.read_table("t", as_of=fake_id)
        with pytest.raises(LookupError, match="not an ancestor"):
            cat.rollback("t", fake_id)


def test_timestamp_resolution_is_timezone_aware(spark, cat):
    import datetime as dt
    import time as _time

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    _time.sleep(0.05)
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    mid = (s1.committed_at_unix + s2.committed_at_unix) / 2
    # an aware non-UTC datetime denotes the same absolute instant
    jst = dt.datetime.fromtimestamp(mid, tz=dt.timezone(dt.timedelta(hours=9)))
    assert _vals(cat.read_table("t", as_of=jst)) == [(1, "a", "x")]
    # naive inputs are documented as UTC: a naive UTC rendering of mid
    naive_utc = dt.datetime.fromtimestamp(mid, tz=dt.timezone.utc).replace(tzinfo=None)
    assert _vals(cat.read_table("t", as_of=naive_utc)) == [(1, "a", "x")]
    assert _vals(cat.read_table("t", as_of=naive_utc.isoformat())) == [(1, "a", "x")]


def test_non_finite_as_of_raises(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    # 'inf' is float()-parsable but not an instant — it must raise like
    # any other garbage string, never resolve to the newest snapshot
    for bad in ("inf", "-inf", "nan", float("inf"), float("nan")):
        with pytest.raises(LookupError):
            cat.read_table("t", as_of=bad)


def test_publish_stamps_publish_time(spark, cat):
    import time as _time

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(
        _df(spark, [(2, "b", "y")]), "t", mode="append", staged=True
    )
    _time.sleep(0.05)
    before_publish = _time.time()
    _time.sleep(0.05)
    pub = cat.publish("t", staged.snapshot_id)
    # visibility timeline: the published snapshot carries PUBLISH time,
    # not stage time — a reader at before_publish could only see s1
    assert pub.committed_at_unix > before_publish > staged.committed_at_unix
    assert _vals(cat.read_table("t", as_of=before_publish)) == [(1, "a", "x")]
    assert _vals(cat.read_table("t", as_of=pub.committed_at_unix)) == [
        (1, "a", "x"), (2, "b", "y")
    ]


def test_log_lock_serializes_append_against_rewrite(spark, cat):
    """A maintenance rewrite (expire_snapshots) holds the per-table
    flock, so a racing commit append cannot land inside its
    read-filter-replace window and be dropped."""
    import threading
    import time as _time

    for i in range(3):
        cat.write_table(_df(spark, [(i, "a", "x")]), "t", mode="append")

    entered = threading.Event()
    release = threading.Event()
    orig = type(cat)._expire_locked

    def slow_expire(self, table, keep_last, shutil, older_than=None):
        entered.set()
        release.wait(timeout=10)
        return orig(self, table, keep_last, shutil, older_than)

    results = {}

    def do_expire():
        type(cat)._expire_locked = slow_expire
        try:
            results["expired"] = cat.expire_snapshots("t", keep_last=1)
        finally:
            type(cat)._expire_locked = orig

    t1 = threading.Thread(target=do_expire)
    t1.start()
    assert entered.wait(timeout=10)

    def do_commit():
        results["snap"] = cat.write_table(
            _df(spark, [(99, "z", "z")]), "t", mode="append"
        )

    t2 = threading.Thread(target=do_commit)
    t2.start()
    t2.join(timeout=1.0)
    # the commit is blocked on the lock while the rewrite is in flight
    assert t2.is_alive()
    release.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert not t1.is_alive() and not t2.is_alive()
    # the append survived the rewrite: it is the committed pointer
    hist = cat.history("t")
    assert hist[-1].snapshot_id == results["snap"].snapshot_id
    assert (99, "z", "z") in _vals(cat.read_table("t"))


def test_default_row_count_is_footer_only_no_read_job(spark, cat):
    """write_table(row_count=None) must not plan a Spark read job over
    the fresh snapshot: the count comes from the parquet footers the
    write just produced (metadata-only)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = _df(spark, [(i, "a", "x") for i in range(7)])
    snap = cat.write_table(df, "t")  # row_count defaults to None
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert snap.row_count == 7
    # exactly the write job itself — no second count/scan job
    assert len(after - before) == 1
    # empty commit still counts 0 with no files to walk
    empty = cat.write_table(
        spark.createDataFrame([], "k int, route string, v string"), "t2"
    )
    assert empty.row_count == 0


# --------------------------------------------------------------- changelog
def _changes(df):
    return sorted(
        (r.k, r.route, r.v, r._change_type, r._change_ordinal) for r in df.collect()
    )


def test_changes_append_only_is_pure_inserts(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    s3 = cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    assert _changes(ch) == [
        (2, "b", "y", "insert", 0),
        (3, "c", "z", "insert", 1),
    ]
    by_commit = {r._commit_snapshot_id for r in ch.collect()}
    assert by_commit == {s2.snapshot_id, s3.snapshot_id}
    # from=None walks from table creation; to= bounds inclusively
    assert _changes(cat.changes("t", to_snapshot=s2.snapshot_id)) == [
        (1, "a", "x", "insert", 0),
        (2, "b", "y", "insert", 1),
    ]


def test_changes_merge_update_is_delete_plus_insert(spark, cat):
    s1 = cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")]),
        "t", partition_by=["route"],
    )
    cat.merge(_df(spark, [(2, "a", "Y2")]), "t", on=["route", "k"], partition_by=["route"])
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    # row 1 lives in the rewritten partition route=a but is unchanged:
    # carryover netting must hide it; row 3's partition was untouched
    assert _changes(ch) == [
        (2, "a", "Y2", "insert", 0),
        (2, "a", "y", "delete", 0),
    ]
    raw = cat.changes("t", from_snapshot=s1.snapshot_id, drop_carryovers=False)
    vals = _changes(raw)
    assert (1, "a", "x", "insert", 0) in vals and (1, "a", "x", "delete", 0) in vals
    assert not any(r[0] == 3 for r in vals)  # untouched partition never scanned


def test_changes_overwrite_and_compact(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    s2 = cat.write_table(_df(spark, [(9, "z", "new")]), "t")  # overwrite
    assert _changes(cat.changes("t", from_snapshot=s1.snapshot_id)) == [
        (1, "a", "x", "delete", 0),
        (2, "b", "y", "delete", 0),
        (9, "z", "new", "insert", 0),
    ]
    cat.write_table(_df(spark, [(8, "w", "w8")]), "t", mode="append")
    s3 = cat.snapshot("t")
    cat.compact("t", partition_by=None)
    # compaction changes no data: netted changelog is empty, raw is balanced
    assert cat.changes("t", from_snapshot=s3.snapshot_id).count() == 0
    raw = cat.changes("t", from_snapshot=s3.snapshot_id, drop_carryovers=False)
    per_type = {r["_change_type"]: r["n"] for r in
                raw.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert per_type == {"insert": 2, "delete": 2}


def test_changes_duplicate_rows_net_by_multiplicity(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.write_table(
        _df(spark, [(1, "a", "x"), (1, "a", "x")]), "t", mode="append"
    )
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    assert _changes(ch) == [
        (1, "a", "x", "insert", 0),
        (1, "a", "x", "insert", 0),
    ]


def test_changes_across_add_column_evolution(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.write_table(
        spark.createDataFrame([(2, "b", "y", 7)], "k int, route string, v string, extra int"),
        "t", mode="append",
    )
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    rows = ch.collect()
    assert [(r.k, r.extra, r._change_type) for r in rows] == [(2, 7, "insert")]


def test_changes_bounds_and_errors(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    # from == to -> empty frame with data + change columns
    empty = cat.changes("t", from_snapshot=s2.snapshot_id, to_snapshot=s2.snapshot_id)
    assert empty.count() == 0
    assert empty.columns[-3:] == ["_change_type", "_commit_snapshot_id", "_change_ordinal"]
    with pytest.raises(ValueError, match="precedes"):
        cat.changes("t", from_snapshot=s2.snapshot_id, to_snapshot=s1.snapshot_id)
    staged = cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append", staged=True)
    with pytest.raises(LookupError, match="staged, expired, or foreign"):
        cat.changes("t", to_snapshot=staged.snapshot_id)
    with pytest.raises(LookupError):
        cat.changes("missing")


def test_changes_accepts_timestamp_bounds(spark, cat):
    import time as _time

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    assert _changes(cat.changes("t", from_snapshot=mid)) == [(2, "b", "y", "insert", 0)]


# ----------------------------------------------------------- merge-on-read
def test_mor_upsert_matches_cow_and_rewrites_nothing(spark, cat):
    rows = [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")]
    s1 = cat.write_table(_df(spark, rows), "t", partition_by=["route"])
    pre_state = [dict(e) for e in cat.snapshot("t").state]
    src = _df(spark, [(2, "a", "Y2"), (9, "b", "NEW")])
    s2 = cat.merge(src, "t", on=["k"], strategy="mor", partition_by=["route"])
    assert _vals(cat.read_table("t")) == [
        (1, "a", "x"), (2, "a", "Y2"), (3, "b", "z"), (9, "b", "NEW")
    ]
    # no parent entry was rewritten or masked — MoR adds entries only
    assert s2.state[: len(pre_state)] == pre_state
    added = s2.state[len(pre_state):]
    kinds = sorted(e.get("kind", "data") for e in added)
    assert kinds == ["data", "eq_deletes"]
    assert all(e["exclude"] == [] for e in added)
    # time travel: pre-merge state intact
    assert _vals(cat.read_table("t", as_of=s1.snapshot_id)) == sorted(rows)


def test_mor_sequence_rule_reinsert_survives(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    cat.merge(_df(spark, [(1, "a", "x")]), "t", on=["k"],
              when_matched="delete", when_not_matched=None, strategy="mor")
    assert _vals(cat.read_table("t")) == [(2, "b", "y")]
    # re-insert the deleted key AFTER the delete: higher seq, must survive
    cat.write_table(_df(spark, [(1, "a", "x-back")]), "t", mode="append")
    assert _vals(cat.read_table("t")) == [(1, "a", "x-back"), (2, "b", "y")]


def test_mor_classification_paths(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    # update-only: unmatched source rows are dropped, not inserted
    cat.merge(_df(spark, [(2, "b", "Y2"), (9, "z", "NO")]), "t", on=["k"],
              when_matched="update", when_not_matched=None, strategy="mor")
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "Y2")]
    # delete matched + insert unmatched
    cat.merge(_df(spark, [(1, "a", "ignored"), (7, "c", "NEW")]), "t", on=["k"],
              when_matched="delete", when_not_matched="insert", strategy="mor")
    assert _vals(cat.read_table("t")) == [(2, "b", "Y2"), (7, "c", "NEW")]


def test_mor_compact_materializes_deletes(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    cat.merge(_df(spark, [(2, "b", "Y2")]), "t", on=["k"], strategy="mor")
    assert any(e.get("kind") == "eq_deletes" for e in cat.snapshot("t").state)
    fm = cat.files_metadata("t")
    contents = {r["content"] for r in fm.collect()}
    assert contents == {"data", "eq_deletes"}
    cat.compact("t")
    post = cat.snapshot("t").state
    assert all(e.get("kind") != "eq_deletes" for e in post)
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "Y2")]
    assert {r["content"] for r in cat.files_metadata("t").collect()} == {"data"}


def test_mor_changes_state_diff(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    cat.merge(_df(spark, [(2, "b", "Y2")]), "t", on=["k"], strategy="mor")
    cat.write_table(_df(spark, [(5, "e", "v5")]), "t", mode="append")
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    assert _changes(ch) == [
        (2, "b", "Y2", "insert", 0),
        (2, "b", "y", "delete", 0),
        (5, "e", "v5", "insert", 1),
    ]
    with pytest.raises(ValueError, match="merge-on-read"):
        cat.changes("t", from_snapshot=s1.snapshot_id, drop_carryovers=False)


def test_mor_guards(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    with pytest.raises(ValueError, match="strategy"):
        cat.merge(_df(spark, [(1, "a", "x")]), "t", on=["k"], strategy="bogus")
    with pytest.raises(ValueError, match="non-null"):
        cat.merge(
            spark.createDataFrame([(None, "a", "x")], "k int, route string, v string"),
            "t", on=["k"], strategy="mor",
        )


def test_mor_predicate_pruning_composes_with_deletes(spark, cat):
    cat.write_table(
        _df(spark, [(1, "a", "x"), (50, "b", "y"), (99, "c", "z")]),
        "t", stats_cols=["k"], sort_by=["k"],
    )
    cat.merge(_df(spark, [(50, "b", "GONE")]), "t", on=["k"],
              when_matched="delete", when_not_matched=None, strategy="mor")
    got = cat.read_table("t", predicate=("k", 40, 100)).filter("k between 40 and 100")
    assert _vals(got) == [(99, "c", "z")]


def test_partition_spec_evolution_reads_mixed_layouts(spark, cat):
    """Iceberg partition-spec evolution: commits may change the
    table's partition layout; reads plan each manifest entry under its
    OWN layout (basePath per entry restores hive columns; flat entries
    carry them in file data) and union by name."""
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t",
                    partition_by=["route"])
    cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")  # flat
    cat.write_table(_df(spark, [(4, "d", "w")]), "t", mode="append",
                    partition_by=["route", "k"])  # deeper spec
    assert _vals(cat.read_table("t")) == [
        (1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, "d", "w")
    ]
    # compaction normalizes to the newest live layout it sniffs
    cat.compact("t", partition_by=["route"])
    assert _vals(cat.read_table("t")) == [
        (1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, "d", "w")
    ]


# --------------------------------------------------------------------- tags
def test_tag_resolves_and_survives_expiry(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    cat.create_tag("t", "baseline-v1", as_of=s1.snapshot_id)
    assert _vals(cat.read_table("t", as_of="baseline-v1")) == [(1, "a", "x")]
    # expiry keeps the tagged snapshot's line and dirs
    cat.expire_snapshots("t", keep_last=1)
    assert _vals(cat.read_table("t", as_of="baseline-v1")) == [(1, "a", "x")]
    assert cat.tags("t") == {"baseline-v1": s1.snapshot_id}
    refs = {(r.name, r.type, r.in_history) for r in cat.refs_metadata("t").collect()}
    assert refs == {("baseline-v1", "tag", False)}  # off the kept chain
    # untag -> the next expiry collects it
    assert cat.remove_tag("t", "baseline-v1") == s1.snapshot_id
    cat.expire_snapshots("t", keep_last=1)
    with pytest.raises(LookupError):
        cat.read_table("t", as_of=s1.snapshot_id)


def test_tag_survives_rollback_and_orphan_sweep(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    cat.create_tag("t", "cut-2026w34")  # tags the current snapshot (s2)
    cat.rollback("t", s1.snapshot_id)   # s2 becomes a dead branch
    cat.remove_orphan_files("t", older_than_s=0)
    # the tag still reads the dead-branch snapshot
    assert _vals(cat.read_table("t", as_of="cut-2026w34")) == [
        (1, "a", "x"), (2, "b", "y")
    ]
    assert cat.tags("t") == {"cut-2026w34": s2.snapshot_id}


def test_tag_guards(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.create_tag("t", "good")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_tag("t", "good")
    for bad in ("2026-01-01", "1699999999", "deadbeefdeadbeef", "", "a b"):
        with pytest.raises(ValueError, match="invalid ref name"):
            cat.create_tag("t", bad)
    staged = cat.write_table(_df(spark, [(2, "b", "y")]), "t",
                             mode="append", staged=True)
    with pytest.raises(ValueError, match="staged"):
        cat.create_tag("t", "prestage", as_of=staged.snapshot_id)
    with pytest.raises(LookupError, match="no tag"):
        cat.remove_tag("t", "missing")


def test_snapshot_summary_records_commit_physics(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    assert s1.summary["added_rows"] == 2
    assert s1.summary["added_files"] >= 1
    assert s1.summary["added_bytes"] > 0
    assert s1.summary["total_entries"] == 1
    s2 = cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    assert s2.summary["added_rows"] == 1 and s2.summary["total_entries"] == 2
    s3 = cat.merge(_df(spark, [(3, "c", "Z!")]), "t", on=["k"], strategy="mor")
    # MoR commit: delete sidecar + insert dir both counted
    assert s3.summary["added_files"] >= 2
    assert s3.summary["added_rows"] == 1
    mt = {r.snapshot_id: json.loads(r.summary_json)
          for r in cat.snapshots_metadata("t").collect()}
    assert mt[s1.snapshot_id]["added_rows"] == 2
    assert mt[s3.snapshot_id]["added_files"] == s3.summary["added_files"]


def test_replace_partitions_preserves_entry_metadata(spark, cat):
    """replace_partitions must carry manifest entries forward VERBATIM
    plus the new mask: merge-on-read delete markers (kind/on/seq) and
    skipping stats (files/bloom) survive, and eq_deletes entries are
    never masked or rebuilt as data entries."""
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]),
                    "t", partition_by=["route"], stats_cols=["k"])
    cat.merge(_df(spark, [(2, "b", "GONE")]), "t", on=["k"],
              when_matched="delete", when_not_matched=None, strategy="mor")
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (3, "c", "z")]
    # now replace an UNRELATED partition
    cat.write_table(_df(spark, [(9, "c", "NEW")]), "t",
                    mode="replace_partitions", partition_by=["route"])
    # the MoR delete still applies; route=c was replaced; route=a kept
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (9, "c", "NEW")]
    state = cat.snapshot("t").state
    kinds = [e.get("kind") for e in state]
    assert "eq_deletes" in kinds  # marker survived the rewrite
    first = state[0]
    assert "files" in first and first.get("seq") == 1  # stats + seq carried
    del_entry = next(e for e in state if e.get("kind") == "eq_deletes")
    assert del_entry["exclude"] == [] and del_entry["on"] == ["k"]


# ------------------------------------------------------ hidden partitioning
def _tsdf(spark, rows):
    return spark.createDataFrame(
        rows, "k int, route string, ts timestamp"
    )


def test_hidden_partitioning_day_roundtrip_and_pruning(spark, cat):
    import datetime as dt

    rows = [
        (1, "a", dt.datetime(2026, 1, 1, 5)),
        (2, "b", dt.datetime(2026, 1, 2, 6)),
        (3, "c", dt.datetime(2026, 1, 3, 7)),
    ]
    cat.write_table(_tsdf(spark, rows), "t", partition_by=["day(ts)"])
    got = cat.read_table("t")
    # hidden column derived at write, absent from reads
    assert got.columns == ["k", "route", "ts"]
    assert sorted(r.k for r in got.collect()) == [1, 2, 3]
    # physical layout: ts_day=... dirs
    parts = {r.partition for r in cat.files_metadata("t").collect()}
    assert parts == {"ts_day=2026-01-01", "ts_day=2026-01-02", "ts_day=2026-01-03"}
    # predicate on the SOURCE column prunes partitions the user never named
    pruned = cat.read_table(
        "t", predicate=("ts", dt.datetime(2026, 1, 2), dt.datetime(2026, 1, 3, 23))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ts_day" in plan
    assert sorted(r.k for r in pruned.collect()) == [2, 3]


def test_hidden_partitioning_append_inherits_spec(spark, cat):
    import datetime as dt

    cat.write_table(
        _tsdf(spark, [(1, "a", dt.datetime(2026, 1, 1))]), "t",
        partition_by=["day(ts)"],
    )
    # append WITHOUT partition_by: the hidden spec is table metadata
    cat.write_table(
        _tsdf(spark, [(2, "b", dt.datetime(2026, 1, 2))]), "t", mode="append"
    )
    parts = {r.partition for r in cat.files_metadata("t").collect()}
    assert parts == {"ts_day=2026-01-01", "ts_day=2026-01-02"}
    # append with a DIFFERENT spec is rejected (overwrite required)
    with pytest.raises(ValueError, match="hidden-partitioned"):
        cat.write_table(
            _tsdf(spark, [(3, "c", dt.datetime(2026, 1, 3))]), "t",
            mode="append", partition_by=["month(ts)"],
        )
    # restating the SAME spec is fine
    cat.write_table(
        _tsdf(spark, [(3, "c", dt.datetime(2026, 1, 3))]), "t",
        mode="append", partition_by=["day(ts)"],
    )
    assert cat.read_table("t").count() == 3


def test_hidden_partitioning_bucket_eq_prunes(spark, cat):
    df = spark.range(0, 200).selectExpr(
        "cast(id as int) as k", "concat('c-', id) as conv_id", "concat('v', id) as v"
    )
    cat.write_table(df, "t", partition_by=["bucket(8,conv_id)"])
    got = cat.read_table("t", eq=("conv_id", "c-7")).filter("conv_id = 'c-7'")
    assert [r.k for r in got.collect()] == [7]
    plan = cat.read_table("t", eq=("conv_id", "c-7"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "conv_id_bucket8" in plan
    assert cat.read_table("t").columns == ["k", "conv_id", "v"]


def test_hidden_partitioning_compact_preserves_spec(spark, cat):
    import datetime as dt

    cat.write_table(
        _tsdf(spark, [(1, "a", dt.datetime(2026, 1, 1)),
                      (2, "b", dt.datetime(2026, 1, 2))]),
        "t", partition_by=["day(ts)"],
    )
    cat.write_table(
        _tsdf(spark, [(3, "c", dt.datetime(2026, 1, 2, 9))]), "t", mode="append"
    )
    cat.compact("t")
    assert cat.snapshot("t").partition_spec and \
        cat.snapshot("t").partition_spec[0]["transform"] == "day"
    parts = {r.partition for r in cat.files_metadata("t").collect()}
    assert parts == {"ts_day=2026-01-01", "ts_day=2026-01-02"}
    assert cat.read_table("t").count() == 3


def test_hidden_partitioning_changes_and_mor_interplay(spark, cat):
    import datetime as dt

    s1 = cat.write_table(
        _tsdf(spark, [(1, "a", dt.datetime(2026, 1, 1))]), "t",
        partition_by=["day(ts)"],
    )
    cat.write_table(
        _tsdf(spark, [(2, "b", dt.datetime(2026, 1, 2))]), "t", mode="append"
    )
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    # changelog exposes data columns only — no hidden ts_day
    assert ch.columns == ["k", "route", "ts",
                          "_change_type", "_commit_snapshot_id", "_change_ordinal"]
    assert [(r.k, r._change_type) for r in ch.collect()] == [(2, "insert")]
    # MoR on a hidden table: plain-column/omitted partition_by works
    cat.merge(_tsdf(spark, [(2, "b", dt.datetime(2026, 1, 2, 4))]), "t",
              on=["k"], strategy="mor")
    assert cat.read_table("t").filter("k = 2").first().ts.hour == 4
    with pytest.raises(ValueError, match="hidden partition"):
        cat.merge(_tsdf(spark, [(9, "z", dt.datetime(2026, 1, 9))]), "t",
                  on=["k"], strategy="mor", partition_by=["day(ts)"])


def test_hidden_partitioning_name_guards(spark, cat):
    import datetime as dt

    with pytest.raises(ValueError, match="unparseable"):
        cat.write_table(_tsdf(spark, [(1, "a", dt.datetime(2026, 1, 1))]),
                        "t", partition_by=["dayz(ts)"])
    with pytest.raises(ValueError, match="requires N"):
        cat.write_table(_tsdf(spark, [(1, "a", dt.datetime(2026, 1, 1))]),
                        "t", partition_by=["bucket(conv_id)"])
    bad = spark.createDataFrame([(1, "x")], "k int, ts_day string")
    with pytest.raises(ValueError, match="collide"):
        cat.write_table(bad.withColumn("ts", F.current_timestamp()),
                        "t", partition_by=["day(ts)"])


def test_partition_spec_parse_roundtrip_property(spark, cat):
    """_spec_strings(_parse_partition_spec(x)) is the identity on
    canonical spec strings — fuzzed over the transform grammar."""
    from hypothesis import given, settings, strategies as st

    col = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
    n = st.integers(min_value=1, max_value=64)
    spec_str = st.one_of(
        col,
        st.tuples(st.sampled_from(["day", "month", "hour"]), col).map(
            lambda t: f"{t[0]}({t[1]})"
        ),
        st.tuples(st.sampled_from(["bucket", "truncate"]), n, col).map(
            lambda t: f"{t[0]}({t[1]},{t[2]})"
        ),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(spec_str, min_size=1, max_size=4))
    def check(parts):
        names, spec = cat._parse_partition_spec(parts)
        assert cat._spec_strings(spec) == parts
        assert len(names) == len(parts) and len(set()) == 0
        # re-parse of the round-trip is a fixed point
        names2, spec2 = cat._parse_partition_spec(cat._spec_strings(spec))
        assert spec2 == spec and names2 == names

    check()


# ----------------------------------------------------------------- branches
def test_branch_commits_move_branch_not_main(spark, cat):
    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.create_branch("t", "audit")
    b1 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append",
                         branch="audit")
    b2 = cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append",
                         branch="audit")
    # main untouched; the branch sees its lineage by name
    assert _vals(cat.read_table("t")) == [(1, "a", "x")]
    assert _vals(cat.read_table("t", as_of="audit")) == [
        (1, "a", "x"), (2, "b", "y"), (3, "c", "z")
    ]
    assert b1.parent_id == s1.snapshot_id and b2.parent_id == b1.snapshot_id
    assert cat.branches("t") == {"audit": b2.snapshot_id}
    # main history never shows branch commits
    assert [s.snapshot_id for s in cat.history("t")] == [s1.snapshot_id]
    refs = {(r.name, r.type) for r in cat.refs_metadata("t").collect()}
    assert refs == {("audit", "branch")}


def test_fast_forward_publishes_a_branch(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.create_branch("t", "audit")
    cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", branch="audit")
    head = cat.fast_forward("t", "audit")
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (2, "b", "y")]
    assert cat.snapshot("t").snapshot_id == head.snapshot_id
    assert len(cat.history("t")) == 2  # branch lineage is now main's


def test_fast_forward_rejects_diverged_branch(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.create_branch("t", "audit")
    cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", branch="audit")
    cat.write_table(_df(spark, [(9, "z", "w")]), "t", mode="append")  # main moves
    with pytest.raises(ValueError, match="does not descend"):
        cat.fast_forward("t", "audit")
    # main unaffected by the failed publish
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (9, "z", "w")]


def test_branch_guards_and_removal(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.create_tag("t", "pin")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_branch("t", "pin")  # tags and branches share a namespace
    with pytest.raises(LookupError, match="no branch"):
        cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append",
                        branch="missing")
    with pytest.raises(ValueError, match="mutually exclusive"):
        cat.create_branch("t", "b1")
        cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append",
                        branch="b1", staged=True)
    head = cat.branches("t")["b1"]
    assert cat.remove_branch("t", "b1") == head
    with pytest.raises(LookupError):
        cat.remove_branch("t", "b1")


def test_branch_head_survives_expiry(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    cat.create_branch("t", "wip")
    cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append", branch="wip")
    cat.write_table(_df(spark, [(9, "z", "w")]), "t", mode="append")  # main
    cat.expire_snapshots("t", keep_last=1)
    cat.remove_orphan_files("t", older_than_s=0)
    # the branch stays readable by name: head line + dirs protected
    assert _vals(cat.read_table("t", as_of="wip")) == [(1, "a", "x"), (2, "b", "y")]


# ---------------------------------------------------------------------------
# row-level DML: delete_where / update_where (file-granular copy-on-write)
# ---------------------------------------------------------------------------

def test_delete_where_rewrites_only_matching_files(spark, cat):
    """DELETE WHERE commits one snapshot; files without matches carry
    over BY REFERENCE (same physical paths keep being planned), only
    files holding matched rows rewrite."""
    df = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2
    )
    s1 = cat.write_table(df.repartitionByRange(8, "k"), "t", stats_cols=["k"])
    before = set(cat.read_table("t").inputFiles())
    s2 = cat.delete_where("t", predicate=("k", 100, 150))
    out = cat.read_table("t")
    assert out.count() == 1000 - 51
    assert out.filter(F.col("k").between(100, 150)).count() == 0
    after = set(out.inputFiles())
    # 8 disjoint-range files; [100,150] touches at most 2 of them
    assert len(before & after) >= len(before) - 2
    assert after - before, "survivors dir must be planned"
    # pre-delete snapshot time-travels intact
    assert cat.read_table("t", as_of=s1.snapshot_id).count() == 1000
    assert s2.op == "delete" and s2.parent_id == s1.snapshot_id
    # the mask is file-level excludes on the ORIGINAL entry
    excl = cat.snapshot("t").state[0]["exclude"]
    assert excl and all(e.endswith(".parquet") for e in excl)
    assert len(excl) <= 2


def test_delete_where_plans_candidates_from_stats(spark, cat):
    """The rewrite planner prunes candidate files metadata-only with
    the same stats machinery as scan planning."""
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    cat.write_table(df.repartitionByRange(8, "k"), "t", stats_cols=["k"])
    entry = cat.snapshot("t").state[0]
    allf = cat._pruned_files(entry)
    cand = cat._pruned_files(entry, predicate=("k", 100, 150))
    assert len(cand) < len(allf) and len(cand) >= 1


def test_delete_where_no_match_commits_nothing(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    s1 = cat.snapshot("t")
    # eq misses entirely
    assert cat.delete_where("t", eq=("k", 999)).snapshot_id == s1.snapshot_id
    # stats-candidate files but zero actual matches (residual where)
    assert (
        cat.delete_where("t", predicate=("k", 1, 2), where="v = 'nope'").snapshot_id
        == s1.snapshot_id
    )
    assert len(cat.history("t")) == 1


def test_delete_where_null_condition_rows_survive(spark, cat):
    """SQL DELETE semantics: a NULL condition does not delete."""
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, None, "y"), (3, "b", "z")]), "t"
    )
    cat.delete_where("t", where="route = 'a'")
    assert _vals(cat.read_table("t")) == [(2, None, "y"), (3, "b", "z")]


def test_delete_where_all_rows(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y")]), "t")
    s2 = cat.delete_where("t", where="k >= 0")
    assert s2.row_count == 0
    assert cat.read_table("t").count() == 0
    assert cat.read_table("t").columns == ["k", "route", "v"]


def test_dml_condition_guards(spark, cat):
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    with pytest.raises(ValueError, match="condition"):
        cat.delete_where("t")
    with pytest.raises(ValueError, match="bound"):
        cat.delete_where("t", predicate=("k", None, None))
    with pytest.raises(ValueError, match="assignment"):
        cat.update_where("t", {}, where="k = 1")
    with pytest.raises(ValueError, match="unknown update columns"):
        cat.update_where("t", {"zzz": "1"}, where="k = 1")
    with pytest.raises(LookupError):
        cat.delete_where("missing", where="k = 1")


def test_update_where_matched_rows_only(spark, cat):
    """UPDATE SET applies to matched rows; unmatched rows in touched
    files rewrite unchanged; simultaneous-assignment reads OLD values."""
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "b", "z")]), "t"
    )
    s2 = cat.update_where(
        "t", {"v": "upper(v)", "k": "k + 10"}, where="route = 'b'"
    )
    assert s2.op == "update"
    assert _vals(cat.read_table("t")) == [(1, "a", "x"), (12, "b", "Y"), (13, "b", "Z")]
    # time travel to pre-update image
    assert _vals(cat.read_table("t", as_of=s2.parent_id)) == [
        (1, "a", "x"), (2, "b", "y"), (3, "b", "z")
    ]


def test_update_where_moves_rows_across_partitions(spark, cat):
    cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y")]), "t", partition_by=["route"]
    )
    before = set(cat.read_table("t").inputFiles())
    cat.update_where("t", {"route": "'a'"}, eq=("k", 2))
    out = cat.read_table("t")
    assert _vals(out) == [(1, "a", "x"), (2, "a", "y")]
    parts = {r.partition for r in cat.files_metadata("t").collect()}
    assert "route=a" in parts and not any(p == "route=b" for p in parts)
    # the untouched route=a file carried by reference
    assert any(f in before for f in out.inputFiles())


def test_delete_where_applies_pending_mor_deletes(spark, cat):
    """Survivors re-commit at a NEW sequence number, so pending
    equality deletes (which mask only LOWER-seq entries) must be
    applied during the rewrite or MOR-deleted rows would resurrect."""
    cat.write_table(_df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, "d", "w")]), "t")
    cat.merge(
        _df(spark, [(2, "b", "y")]), "t", on=["k"],
        when_matched="delete", when_not_matched=None, strategy="mor",
    )
    assert sorted(r.k for r in cat.read_table("t").collect()) == [1, 3, 4]
    cat.delete_where("t", eq=("k", 4))
    assert sorted(r.k for r in cat.read_table("t").collect()) == [1, 3]


def test_delete_where_changelog_is_exact_deletes(spark, cat):
    """changes() across a DELETE commit nets to exactly the deleted
    rows (carried files diff empty; rewritten survivors net out)."""
    s1 = cat.write_table(
        _df(spark, [(1, "a", "x"), (2, "b", "y"), (3, "b", "z")]), "t"
    )
    s2 = cat.delete_where("t", where="route = 'b'")
    ch = cat.changes("t", from_snapshot=s1.snapshot_id, to_snapshot=s2.snapshot_id)
    rows = sorted((r.k, r.route, r.v, r._change_type) for r in ch.collect())
    assert rows == [(2, "b", "y", "delete"), (3, "b", "z", "delete")]


def test_dml_preserves_skipping_metadata(spark, cat):
    """Stats and bloom skipping fire on the rewritten survivors too:
    the new entry recomputes the touched entries' stats columns and
    bloom config from the survivors' footers."""
    df = (
        spark.range(0, 400)
        .withColumnRenamed("id", "k")
        .withColumn("conv_id", F.concat(F.lit("c"), F.col("k") % 50))
    )
    cat.write_table(
        df.repartitionByRange(4, "k"), "t",
        stats_cols=["k"], bloom_cols=["conv_id"],
    )
    cat.delete_where("t", predicate=("k", 0, 29))
    snap = cat.snapshot("t")
    new_entry = snap.state[-1]
    assert new_entry.get("files"), "survivor stats must be recomputed"
    assert new_entry.get("bloom", {}).get("cols") == ["conv_id"]
    pruned = cat.read_table("t", predicate=("k", 350, 360))
    assert len(pruned.inputFiles()) < len(cat.read_table("t").inputFiles())
    assert pruned.filter(F.col("k").between(350, 360)).count() == 11
    probe = cat.read_table("t", eq=("conv_id", "c25"))
    assert probe.filter(F.col("conv_id") == "c25").count() == 7  # k=25 deleted


def test_dml_hidden_partitioning_roundtrip(spark, cat):
    """DELETE prunes its rewrite set under hidden specs; UPDATE of a
    transform's source column re-derives the hidden value so the row
    lands (and prunes) under its new partition."""
    import datetime as dt

    rows = [
        (1, "a", dt.datetime(2026, 1, 1, 5)),
        (2, "b", dt.datetime(2026, 1, 2, 6)),
        (3, "c", dt.datetime(2026, 1, 3, 7)),
    ]
    cat.write_table(_tsdf(spark, rows), "t", partition_by=["day(ts)"])
    cat.delete_where("t", eq=("k", 2))
    assert sorted(r.k for r in cat.read_table("t").collect()) == [1, 3]
    cat.update_where("t", {"ts": "ts + interval 10 days"}, eq=("k", 3))
    parts = {r.partition for r in cat.files_metadata("t").collect()}
    assert "ts_day=2026-01-13" in parts
    got = cat.read_table(
        "t", predicate=("ts", dt.datetime(2026, 1, 13), dt.datetime(2026, 1, 14))
    )
    assert [r.k for r in got.collect()] == [3]
    assert cat.read_table("t").columns == ["k", "route", "ts"]


def test_dml_masked_files_survive_sweeps_then_compact_reclaims(spark, cat):
    """Orphan sweep and expiry are dir-granular: a masked file's bytes
    stay (older snapshots still reference them) until a compaction
    rewrite makes the old dir fully droppable."""
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    cat.write_table(df.repartition(4), "t")
    cat.delete_where("t", where="k < 10")
    masked = [
        e for s in [cat.snapshot("t")] for ent in s.state for e in ent["exclude"]
    ]
    assert masked
    cat.remove_orphan_files("t", older_than_s=0)
    assert cat.read_table("t").count() == 90
    cat.compact("t")
    cat.expire_snapshots("t", keep_last=1)
    assert cat.read_table("t").count() == 90
    # post-compact state has no excludes at all
    assert all(not e["exclude"] for e in cat.snapshot("t").state)


# --------------------- merge-on-read DML: positional deletion vectors
# Iceberg v3 deletes: a sparse DELETE/UPDATE adds a (file, row-position)
# sidecar instead of rewriting any file; readers mask with one broadcast
# anti-join; compact() materializes the debt away.


def test_mor_delete_writes_dv_and_rewrites_nothing(spark, cat):
    df = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2
    )
    s1 = cat.write_table(df.repartitionByRange(8, "k"), "t", stats_cols=["k"])
    before = set(cat.read_table("t").inputFiles())
    s2 = cat.delete_where("t", predicate=("k", 100, 150), strategy="mor")
    assert s2.op == "delete-mor" and s2.lineage["masked_rows"] == 51
    out = cat.read_table("t")
    assert out.count() == 1000 - 51
    assert out.filter(F.col("k").between(100, 150)).count() == 0
    # zero data files rewritten or masked: same files still planned
    assert before <= set(out.inputFiles())
    assert all(not e["exclude"] for e in s2.state if not e.get("kind"))
    dv = [e for e in s2.state if e.get("kind") == "pos_deletes"]
    assert len(dv) == 1 and dv[0]["seq"] == s2.sequence
    # pre-delete snapshot time-travels intact
    assert cat.read_table("t", as_of=s1.snapshot_id).count() == 1000


def test_mor_update_one_commit_dv_plus_new_images(spark, cat):
    rows = [(k, "r" + str(k % 2), "v" + str(k)) for k in range(20)]
    cat.write_table(_df(spark, rows), "t", partition_by=["route"])
    s2 = cat.update_where("t", {"v": "upper(v)"}, eq=("route", "r1"), strategy="mor")
    assert s2.op == "update-mor" and s2.lineage["masked_rows"] == 10
    kinds = [e.get("kind") for e in s2.state[len(s2.state) - 2:]]
    assert kinds == ["pos_deletes", None], "one commit: DV + data entry"
    out = _vals(cat.read_table("t"))
    assert out == sorted(
        (k, f"r{k % 2}", f"v{k}".upper() if k % 2 else f"v{k}") for k in range(20)
    )
    # new images land under the current partition layout
    parts = {r.partition for r in cat.files_metadata("t").collect()
             if r.content == "data"}
    assert parts == {"route=r0", "route=r1"}


def test_mor_update_does_not_resurrect_dv_deleted_rows(spark, cat):
    rows = [(k, "a", "v") for k in range(10)]
    cat.write_table(_df(spark, rows), "t")
    cat.delete_where("t", eq=("k", 3), strategy="mor")
    cat.update_where("t", {"v": "'up'"}, where="route = 'a'", strategy="mor")
    got = sorted(r.k for r in cat.read_table("t").collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9]
    assert {r.v for r in cat.read_table("t").collect()} == {"up"}


def test_mor_delete_empty_match_commits_nothing(spark, cat):
    rows = [(1, "a", "x"), (2, "b", "y")]
    s1 = cat.write_table(_df(spark, rows), "t")
    assert cat.delete_where("t", eq=("k", 99), strategy="mor").snapshot_id == s1.snapshot_id
    # the probe's empty DV dir is cleaned up, not left as an orphan
    snap_dirs = [d for d in os.listdir(cat.path("t")) if d.startswith("snap-")]
    assert len(snap_dirs) == 1


def test_mor_then_cow_rewrite_does_not_resurrect(spark, cat):
    """A later copy-on-write DML rewriting a DV-masked file must apply
    the DV to the survivors it rewrites."""
    rows = [(k, "a", "v" + str(k)) for k in range(10)]
    cat.write_table(_df(spark, rows), "t")
    cat.delete_where("t", eq=("k", 3), strategy="mor")
    cat.delete_where("t", eq=("k", 7))  # CoW rewrite of the same file
    got = sorted(r.k for r in cat.read_table("t").collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]


def test_mor_compact_materializes_dvs_away(spark, cat):
    rows = [(k, "a", "v") for k in range(100)]
    cat.write_table(_df(spark, rows), "t")
    cat.delete_where("t", predicate=("k", 0, 9), strategy="mor")
    s = cat.compact("t")
    assert not any(e.get("kind") for e in s.state)
    assert cat.read_table("t").count() == 90


def test_mor_changelog_is_exact(spark, cat):
    rows = [(k, "r" + str(k % 2), "v") for k in range(10)]
    s1 = cat.write_table(_df(spark, rows), "t")
    s2 = cat.delete_where("t", eq=("route", "r1"), strategy="mor")
    ch = cat.changes("t", from_snapshot=s1.snapshot_id)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(k, "delete") for k in range(10) if k % 2]
    assert {r._commit_snapshot_id for r in ch.collect()} == {s2.snapshot_id}


def test_mor_dv_survives_schema_evolution(spark, cat):
    """Rename/add around a DV: positional sidecars are column-free, so
    metadata-only evolution carries them verbatim and the mask holds."""
    rows = [(k, "a", "v" + str(k)) for k in range(6)]
    cat.write_table(_df(spark, rows), "t")
    cat.delete_where("t", eq=("k", 2), strategy="mor")
    cat.rename_column("t", "v", "val")
    cat.add_column("t", "extra", "int")
    out = cat.read_table("t")
    assert out.columns == ["k", "route", "val", "extra"]
    assert sorted(r.k for r in out.collect()) == [0, 1, 3, 4, 5]


def test_mor_update_rederives_hidden_partition_value(spark, cat):
    import datetime as dt

    rows = [
        (1, "a", dt.datetime(2026, 1, 1, 5)),
        (2, "b", dt.datetime(2026, 1, 2, 6)),
    ]
    cat.write_table(_tsdf(spark, rows), "t", partition_by=["day(ts)"])
    cat.update_where(
        "t", {"ts": "ts + interval 10 days"}, eq=("k", 2), strategy="mor"
    )
    parts = {r.partition for r in cat.files_metadata("t").collect()
             if r.content == "data"}
    assert "ts_day=2026-01-12" in parts
    got = cat.read_table(
        "t", predicate=("ts", dt.datetime(2026, 1, 12), dt.datetime(2026, 1, 13))
    )
    assert [r.k for r in got.collect()] == [2]
    assert cat.read_table("t").columns == ["k", "route", "ts"]


def test_dml_strategy_validation(spark, cat):
    rows = [(1, "a", "x")]
    cat.write_table(_df(spark, rows), "t")
    with pytest.raises(ValueError, match="strategy"):
        cat.delete_where("t", eq=("k", 1), strategy="bogus")
    with pytest.raises(ValueError, match="strategy"):
        cat.update_where("t", {"v": "'y'"}, eq=("k", 1), strategy="bogus")


def test_write_distribution_hash_bounds_files_per_partition(spark, cat):
    """write.distribution-mode=hash: each partition is written by one
    task (P files), where the incoming distribution would write
    T tasks × P partitions files — the small-file guard at scale."""
    rows = [(k, "r" + str(k % 3), "v") for k in range(300)]
    df = _df(spark, rows).repartition(8)  # rows of every route in all 8 tasks
    cat.write_table(df, "t", partition_by=["route"], distribution="hash")
    fm = cat.files_metadata("t")
    per_part = {r["partition"]: r["count"]
                for r in fm.groupBy("partition").count().collect()}
    assert set(per_part) == {"route=r0", "route=r1", "route=r2"}
    assert all(n == 1 for n in per_part.values()), per_part
    assert cat.read_table("t").count() == 300
    # none (default): the same write fans out to many files
    cat.write_table(df, "t2", partition_by=["route"])
    assert cat.files_metadata("t2").count() > 3


def test_write_distribution_hash_on_hidden_transform(spark, cat):
    import datetime as dt

    rows = [(k, "a", dt.datetime(2026, 1, 1 + k % 2, 6)) for k in range(40)]
    df = _tsdf(spark, rows).repartition(8)
    cat.write_table(df, "t", partition_by=["day(ts)"], distribution="hash")
    fm = cat.files_metadata("t")
    per_part = {r["partition"]: r["count"]
                for r in fm.groupBy("partition").count().collect()}
    assert all(n == 1 for n in per_part.values()), per_part
    # inherited spec on append still accepts distribution
    cat.write_table(_tsdf(spark, rows).repartition(4), "t", mode="append",
                    distribution="hash")
    assert cat.read_table("t").count() == 80


def test_write_distribution_validation(spark, cat):
    df = _df(spark, [(1, "a", "x")])
    with pytest.raises(ValueError, match="hash/range/None"):
        cat.write_table(df, "t", partition_by=["route"], distribution="bogus")
    with pytest.raises(ValueError, match="mutually exclusive"):
        cat.write_table(df, "t", partition_by=["route"], distribution="hash",
                        sort_by=["k"])
    with pytest.raises(ValueError, match="partitioned layout"):
        cat.write_table(df, "t", distribution="hash")


def test_expire_snapshots_older_than_keeps_recent_history(spark, cat):
    """Age-based retention: keep_last=1 alone would drop s1 AND s2;
    older_than set between s1 and s2 retains s2 (young) and expires
    only s1's unshared dirs."""
    import time as _time

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    _time.sleep(0.05)
    cut = _time.time()
    _time.sleep(0.05)
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")  # overwrite
    s3 = cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    removed = cat.expire_snapshots("t", keep_last=1, older_than=cut)
    ids = {s.snapshot_id for s in cat.history("t")}
    assert s1.snapshot_id not in ids and {s2.snapshot_id, s3.snapshot_id} <= ids
    assert removed  # s1's dir was unshared
    # s2 still time-travels
    assert _vals(cat.read_table("t", as_of=s2.snapshot_id)) == [(2, "b", "y")]
    # a second call with everything young is a no-op
    assert cat.expire_snapshots("t", keep_last=1, older_than=cut) == []
    # a snapshot id works as the bound: expire strictly before s3
    cat.write_table(_df(spark, [(4, "d", "w")]), "t", mode="append")
    cat.expire_snapshots("t", keep_last=1, older_than=s3.snapshot_id)
    ids = {s.snapshot_id for s in cat.history("t")}
    assert s2.snapshot_id not in ids and s3.snapshot_id in ids
    with pytest.raises(LookupError):
        cat.expire_snapshots("t", keep_last=1, older_than="not-a-snapshot")


# ---------------------------------------- partition-scoped compaction
# rewrite_data_files with a filter: the nightly job compacts only the
# partitions the sink recently wrote; the other 10,000 carry by
# reference with zero read/write amplification.


def test_compact_partitions_rewrites_only_scope(spark, cat):
    rows = [(k, "r" + str(k % 3), "v" + str(k)) for k in range(90)]
    for i in range(4):  # accrete small files per partition
        cat.write_table(
            _df(spark, [r for r in rows if r[0] % 4 == i]).repartition(3),
            "t", mode="append" if i else "overwrite", partition_by=["route"],
        )
    fm = cat.files_metadata("t")
    before = {r.file_path for r in fm.collect() if "route=r2" not in r.partition}
    n_r1_before = fm.filter(F.col("partition").contains("route=r1")).count()
    assert n_r1_before > 3
    s = cat.compact_partitions("t", {"route": "r1"})
    assert s.op == "compact-partitions"
    fm2 = cat.files_metadata("t")
    # scope collapsed; out-of-scope files are the SAME physical paths
    assert fm2.filter(F.col("partition").contains("route=r1")).count() <= 2
    after = {r.file_path for r in fm2.collect() if "route=r2" not in r.partition
             and "route=r1" not in r.partition}
    assert after == {p for p in before if "route=r1" not in p}
    assert _vals(cat.read_table("t")) == sorted(
        (k, f"r{k % 3}", f"v{k}") for k in range(90)
    )


def test_compact_partitions_materializes_scoped_mor_debt(spark, cat):
    rows = [(k, "r" + str(k % 2), "v") for k in range(40)]
    cat.write_table(_df(spark, rows), "t", partition_by=["route"])
    cat.delete_where("t", where="k in (1, 3, 5)", strategy="mor")  # route r1
    s = cat.compact_partitions("t", {"route": "r1"})
    # DV entry stays (it may mask other partitions in general), but the
    # rewritten rows already dropped the masked ones — and re-reads
    # must not double-apply or resurrect
    got = sorted(r.k for r in cat.read_table("t").collect())
    assert got == [k for k in range(40) if k not in (1, 3, 5)]
    # rewritten entry postdates the eq/dv sidecars
    data_seqs = [e["seq"] for e in s.state if not e.get("kind")]
    assert max(data_seqs) == s.sequence


def test_compact_partitions_validation_and_noop(spark, cat):
    rows = [(1, "a", "x"), (2, "b", "y")]
    s1 = cat.write_table(_df(spark, rows), "t", partition_by=["route"])
    with pytest.raises(ValueError, match="not partition columns"):
        cat.compact_partitions("t", {"bogus": 1})
    with pytest.raises(ValueError, match="partition_filter is required"):
        cat.compact_partitions("t", {})
    assert cat.compact_partitions("t", {"route": "zz"}).snapshot_id == s1.snapshot_id


def test_compact_partitions_zorder_scoped_clustering(spark, cat):
    """zorder_by clusters only the scoped partitions on the Morton key
    and records skipping stats for those columns."""
    rows = [(k, "r" + str(k % 2), k * 7 % 400) for k in range(400)]
    df = spark.createDataFrame(rows, "k int, route string, m int")
    cat.write_table(df.repartition(6), "t", partition_by=["route"])
    s = cat.compact_partitions(
        "t", {"route": "r1"}, target_file_bytes=2_000, zorder_by=["k", "m"],
    )
    assert s.lineage["zorder_by"] == ["k", "m"]
    new_entry = s.state[-1]
    assert new_entry.get("files"), "zorder stats must be recorded"
    assert all({"k", "m"} <= set(fd) for fd in new_entry["files"].values())
    # a point-range read plans fewer scope files than the scope holds
    n_scope = len(new_entry["files"])
    assert n_scope > 1
    got = cat.read_table("t", predicate=("k", 1, 9))
    rel = [f for f in got.inputFiles() if new_entry["dir"] in f]
    assert 0 < len(rel) < n_scope
    assert sorted((r.k, r.route, r.m) for r in cat.read_table("t").collect()) \
        == sorted(rows)


def test_compact_partitions_honors_target_bytes_inside_scope(spark, cat):
    """A scope pinning the partition key must still split into
    ~target-size files (hashing on part_names alone would collapse to
    one task ⇒ one giant file)."""
    rows = [(k, "a", f"v{k}-{k * 2654435761 % 10**9}" * 8) for k in range(4000)]
    cat.write_table(_df(spark, rows).repartition(4), "t", partition_by=["route"])
    s = cat.compact_partitions("t", {"route": "a"}, target_file_bytes=20_000)
    fm = cat.files_metadata("t", as_of=s.snapshot_id)
    live = fm.filter(F.col("snapshot_dir").contains(s.state[-1]["dir"]))
    assert live.count() >= 2, live.count()  # split, not one giant file
    assert cat.read_table("t").count() == 4000


def test_compact_partitions_retires_materialized_dvs(spark, cat):
    """A scoped compaction that materializes ALL of a DV's rows drops
    the sidecar, so reads stop paying the anti-join and changes()
    returns to the fast file-diff path."""
    rows = [(k, "r" + str(k % 2), "v") for k in range(40)]
    cat.write_table(_df(spark, rows), "t", partition_by=["route"])
    cat.delete_where("t", where="k in (1, 3)", strategy="mor")  # route r1 only
    s = cat.compact_partitions("t", {"route": "r1"})
    assert not any(e.get("kind") for e in s.state), "DV fully retired"
    got = sorted(r.k for r in cat.read_table("t").collect())
    assert got == [k for k in range(40) if k not in (1, 3)]
    # partial materialization SHRINKS the sidecar instead
    cat.delete_where("t", where="k in (5, 6)", strategy="mor")  # r1 and r0
    s2 = cat.compact_partitions("t", {"route": "r1"})
    dvs = [e for e in s2.state if e.get("kind") == "pos_deletes"]
    assert len(dvs) == 1
    import os as _os
    left = spark.read.parquet(
        _os.path.join(cat.warehouse, dvs[0]["dir"])
    ).count()
    assert left == 1  # k=6 (route r0) still masked-on-read; k=5 materialized
    got = sorted(r.k for r in cat.read_table("t").collect())
    assert got == [k for k in range(40) if k not in (1, 3, 5, 6)]


def test_cow_dml_prunes_dead_dv_rows(spark, cat):
    """A CoW rewrite over DV-masked files retires the dead DV rows."""
    rows = [(k, "a", "v" + str(k)) for k in range(10)]
    cat.write_table(_df(spark, rows).coalesce(1), "t")  # ONE data file
    cat.delete_where("t", eq=("k", 3), strategy="mor")
    s = cat.delete_where("t", eq=("k", 7))  # CoW rewrite of that file
    assert not any(e.get("kind") for e in s.state)
    got = sorted(r.k for r in cat.read_table("t").collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]


def test_expire_keep_zero_age_only_retention(spark, cat):
    """keep_last=0 + older_than = pure age-based retention (the
    pointer snapshot always survives); was a silent hist[-0:] no-op."""
    import time as _time

    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t")
    _time.sleep(0.02)
    removed = cat.expire_snapshots("t", keep_last=0, older_than=_time.time())
    hist = cat.history("t")
    assert [h.snapshot_id for h in hist] == [s2.snapshot_id]
    assert removed  # s1's dir went


def test_rewrite_unions_bloom_cols_across_entries(spark, cat):
    """Two scoped entries with blooms on DIFFERENT columns: the
    rewritten entry must carry the UNION (last-wins would silently
    stop skipping on the first entry's probe column)."""
    rows1 = [(k, "a", "v" + str(k)) for k in range(50)]
    rows2 = [(k, "a", "v" + str(k)) for k in range(50, 100)]
    cat.write_table(_df(spark, rows1), "t", partition_by=["route"],
                    bloom_cols=["k"])
    cat.write_table(_df(spark, rows2), "t", mode="append",
                    partition_by=["route"], bloom_cols=["v"])
    s = cat.compact_partitions("t", {"route": "a"})
    new_entry = s.state[-1]
    assert sorted(new_entry["bloom"]["cols"]) == ["k", "v"]
    assert cat.read_table("t", eq=("k", 7)).filter("k = 7").count() == 1
    assert cat.read_table("t").count() == 100


def test_compact_partitions_hidden_layout(spark, cat):
    import datetime as dt

    rows = [
        (k, "a", dt.datetime(2026, 1, 1 + (k % 3), 8)) for k in range(30)
    ]
    for half in (0, 1):  # two appends → two files per day
        cat.write_table(
            _tsdf(spark, [r for r in rows if r[0] % 2 == half]), "t",
            mode="append" if half else "overwrite", partition_by=["day(ts)"],
        )
    s = cat.compact_partitions("t", {"ts_day": "2026-01-02"})
    fm = cat.files_metadata("t")
    assert fm.filter(F.col("partition").contains("ts_day=2026-01-02")).count() == 1
    out = cat.read_table("t")
    assert out.count() == 30 and out.columns == ["k", "route", "ts"]
    # predicate is a pruning hint (caller refilters by contract)
    got = cat.read_table(
        "t", predicate=("ts", dt.datetime(2026, 1, 2), dt.datetime(2026, 1, 3))
    ).filter(F.to_date("ts") == "2026-01-02")
    assert sorted(r.k for r in got.collect()) == [k for k in range(30) if k % 3 == 1]


# ----------------------------------------------------- optimistic concurrency
# Iceberg's commit model: snapshots are computed against the parent the
# writer read; _commit re-validates the pointer inside the table lock.
# A concurrent append is rebased (fast-append retry / cherry_pick);
# anything else raises CommitConflict (lost update prevented).


def _stale(snap, **over):
    """A copy of a committed snapshot re-posing as a fresh commit —
    the deterministic stand-in for 'a writer computed this against a
    parent that is no longer the pointer'."""
    import uuid
    from dataclasses import replace

    return replace(snap, snapshot_id=uuid.uuid4().hex[:16], **over)


def test_threaded_appenders_lose_no_commits(spark, cat):
    """REAL concurrency, not a staged stale snapshot: 6 threads race
    append commits through the flock'd commit protocol. Every commit
    must land (rebase, never lost-update), history must stay linear,
    and every thread's rows must be readable at the end."""
    import threading

    cat.write_table(_df(spark, [(0, "seed", "s")]), "t")
    errs: list[Exception] = []

    def appender(tid: int) -> None:
        try:
            for j in range(3):
                cat.write_table(
                    _df(spark, [(100 * tid + j, f"w{tid}", f"v{j}")]),
                    "t", mode="append",
                )
        except Exception as ex:  # pragma: no cover - failure detail
            errs.append(ex)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    out = cat.read_table("t")
    assert out.count() == 1 + 6 * 3
    assert out.select("route").distinct().count() == 7
    hist = cat.history("t")
    assert len(hist) == 1 + 6 * 3
    # linear history: each commit parents the previous one
    for prev, nxt in zip(hist, hist[1:]):
        assert nxt.parent_id == prev.snapshot_id


def test_threaded_overwrite_vs_append_conflict_is_detected(spark, cat):
    """A non-append racing an append must either win cleanly or raise
    CommitConflict — never silently drop the other writer."""
    import threading

    from log_parser_project_spark.catalog import CommitConflict

    cat.write_table(_df(spark, [(0, "seed", "s")]), "t")
    conflicts: list[str] = []
    barrier = threading.Barrier(2)

    def do(mode: str) -> None:
        barrier.wait()
        for _ in range(10):
            try:
                cat.write_table(_df(spark, [(1, mode, "x")]), "t", mode=mode)
                return
            except CommitConflict:
                conflicts.append(mode)  # re-read & retry, Iceberg-style
    t1 = threading.Thread(target=do, args=("append",))
    t2 = threading.Thread(target=do, args=("overwrite",))
    t1.start(); t2.start(); t1.join(); t2.join()
    routes = {r.route for r in cat.read_table("t").collect()}
    # the overwrite landed (possibly after retries); if the append
    # committed after it, its row survives on top
    assert "overwrite" in routes
    hist = cat.history("t")
    for prev, nxt in zip(hist, hist[1:]):
        assert nxt.parent_id == prev.snapshot_id


def test_concurrent_append_rebases_onto_new_head(spark, cat):
    from log_parser_project_spark.catalog import CommitConflict  # noqa: F401

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    # an append computed against s1 (stale: pointer is s2) — reuses
    # s2's data dir as its delta, so the rebased table must show that
    # delta TWICE (once from s2, once re-parented)
    stale = _stale(
        s2, parent_id=s1.snapshot_id, state=[s1.state[0], s2.state[-1]]
    )
    out = cat._commit("t", stale)
    assert out.parent_id == s2.snapshot_id  # re-parented onto the head
    assert out.sequence == s2.sequence + 1
    assert out.state[:-1] == s2.state  # winner's state carried verbatim
    assert out.state[-1]["seq"] == out.sequence  # delta entry re-sequenced
    assert out.lineage["rebased_from_parent"] == s1.snapshot_id
    assert _vals(cat.read_table("t")) == [
        (1, "a", "x"), (2, "b", "y"), (2, "b", "y")
    ]
    hist = cat.history("t")
    assert [h.snapshot_id for h in hist] == [
        s1.snapshot_id, s2.snapshot_id, out.snapshot_id
    ]


def test_concurrent_overwrite_conflicts(spark, cat):
    from log_parser_project_spark.catalog import CommitConflict

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    stale = _stale(s2, parent_id=s1.snapshot_id, op="overwrite")
    with pytest.raises(CommitConflict, match="advanced concurrently"):
        cat._commit("t", stale)
    # the losing commit left no trace: pointer AND log are untouched
    assert cat.snapshot("t").snapshot_id == s2.snapshot_id
    assert [s.snapshot_id for s in cat.history("t")] == [
        s1.snapshot_id, s2.snapshot_id
    ]
    assert stale.snapshot_id not in {
        s.snapshot_id for s in cat._log_entries("t")
    }


def test_concurrent_append_with_schema_change_conflicts(spark, cat):
    from log_parser_project_spark.catalog import CommitConflict

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    # the stale append believes a schema s2 does not have — rebasing
    # would smuggle an unvalidated schema evolution past the winner
    other = json.dumps(
        spark.createDataFrame([(1, "a", "x", 0)], "k int, route string, v string, extra int")
        .schema.jsonValue()
    )
    stale = _stale(s2, parent_id=s1.snapshot_id, schema_json=other)
    with pytest.raises(CommitConflict):
        cat._commit("t", stale)


def test_concurrent_append_with_spec_change_conflicts(spark, cat):
    from log_parser_project_spark.catalog import CommitConflict

    s1 = cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    s2 = cat.write_table(_df(spark, [(2, "b", "y")]), "t", mode="append")
    spec = [{"transform": "identity", "source": "route", "name": "route"}]
    stale = _stale(s2, parent_id=s1.snapshot_id, partition_spec=spec)
    with pytest.raises(CommitConflict):
        cat._commit("t", stale)


def test_threaded_appends_lose_no_rows(spark, cat):
    """API-level stress: N writers appending concurrently must all
    land (rebase absorbs whatever interleavings actually occur) — the
    no-CAS failure mode is silently dropped rows."""
    import threading

    cat.write_table(_df(spark, [(0, "seed", "s")]), "t")
    errs = []

    def w(i):
        try:
            cat.write_table(
                _df(spark, [(i, f"r{i}", f"v{i}")]), "t", mode="append"
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=w, args=(i,)) for i in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(r.k for r in cat.read_table("t").collect()) == list(range(7))
    # every appended delta survives in the final state
    assert len(cat.snapshot("t").state) == 7


def test_stale_publish_still_rejected_under_commit_cas(spark, cat):
    """publish's friendly pre-check and _commit's CAS agree: a staged
    snapshot whose parent is no longer the pointer cannot flip."""
    cat.write_table(_df(spark, [(1, "a", "x")]), "t")
    staged = cat.write_table(
        _df(spark, [(2, "b", "y")]), "t", mode="overwrite", staged=True
    )
    cat.write_table(_df(spark, [(3, "c", "z")]), "t", mode="append")
    with pytest.raises(ValueError, match="stale stage"):
        cat.publish("t", staged.snapshot_id)
