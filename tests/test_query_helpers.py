"""CLI-parity helper behavior (list/versions/query/search analogs)."""

from log_parser_project_spark import query_helpers as qh
from log_parser_project_spark.registry import PATTERNS


def test_list_patterns(spark):
    rows = qh.list_patterns(spark).collect()
    classes = {r.pattern_class for r in rows}
    assert classes == {p.pattern_class for p in PATTERNS}
    handoff = next(r for r in rows if r.pattern_class == "handoff")
    assert handoff.n_versions == 2 and handoff.versions == [1, 2]


def test_versions_and_describe(spark):
    v = qh.versions_of(spark, " HANDOFF ").collect()
    assert [r.version for r in v] == [1, 2]
    fields = qh.describe_pattern(spark, "handoff", 2).collect()
    assert [r.field_name for r in fields] == ["to_role", "reason", "priority"]


def test_search(spark):
    hits = qh.search_patterns(spark, "sever").collect()
    assert {r.pattern_class for r in hits} == {"error"}
    hits2 = qh.search_patterns(spark, "sink_h").collect()
    assert {r.pattern_class for r in hits2} == {"handoff"}


def test_sink_summary(spark, transcripts_small, tmp_path):
    from log_parser_project_spark.catalog import SnapshotCatalog
    from log_parser_project_spark.plans.pipeline import run_pipeline

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, transcripts_small, cat, write_repeats=False)
    summary = {r.route: r.n_rows for r in qh.sink_summary(cat).collect()}
    assert summary == {k: v for k, v in res.sink_counts.items() if v > 0}


# ---------------------------------------------------------------------------
# revision-history SCD dim (reference datastore.py:296-341, 389-406)
# ---------------------------------------------------------------------------

def test_revisions_by_date_groups_statuses(spark):
    from log_parser_project_spark import revisions as rev

    rows = rev.revisions_by_date(spark, "December", 2025).collect()
    assert [r.revision for r in rows] == ["rev-B", "rev-C"]
    byrev = {r.revision: r for r in rows}
    assert byrev["rev-B"].new_classes == ["citation"]
    assert byrev["rev-B"].updated_classes == ["error"]
    assert byrev["rev-C"].new_classes == ["metric"]
    assert rev.revisions_by_date(spark, "June", 1999).count() == 0


def test_revisions_by_class_ordered_by_sequence(spark):
    from log_parser_project_spark import revisions as rev

    rows = rev.revisions_by_class(spark, "HANDOFF").collect()  # case-folded
    assert [(r.revision, r.status) for r in rows] == [
        ("rev-D", "new"), ("rev-E", "updated"),
    ]


def test_latest_revision_per_class(spark):
    from log_parser_project_spark import revisions as rev

    got = {r.pattern_class: (r.revision, r.status)
           for r in rev.latest_revision_per_class(spark).collect()}
    assert got["handoff"] == ("rev-E", "updated")
    assert got["citation"] == ("rev-B", "new")
    assert got["tool_call"] == ("rev-C", "updated")


def test_cli_revisions_subcommand(spark, capsys):
    import json

    from log_parser_project_spark.__main__ import main

    assert main(["revisions", "--month", "November", "--year", "2025"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out[0]["revision"] == "rev-A"
    assert out[0]["new_classes"] == ["error", "tool_call"]  # array_sort'd

    assert main(["revisions", "--pattern-class", "metric"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert [(r["revision"], r["status"]) for r in out] == [
        ("rev-C", "new"), ("rev-E", "updated"),
    ]


def test_revisions_by_date_case_folds(spark):
    from log_parser_project_spark import revisions as rev

    assert [r.revision for r in rev.revisions_by_date(spark, "february", "2026").collect()] == ["rev-E"]


def test_scd2_intervals_collapse_chain_and_nulls(spark):
    from datetime import datetime

    from log_parser_project_spark.revisions import scd2_intervals

    def t(s):
        return datetime(2026, 1, 1, 0, 0, s)

    rows = [
        # user 1: A A B A  -> [A), [B), [A current); middle A run collapses
        (1, 1, "A", t(1)), (1, 2, "A", t(2)), (1, 3, "B", t(3)), (1, 4, "A", t(4)),
        # user 2: null-attr first row starts an interval; null -> null collapses
        (2, 5, None, t(1)), (2, 6, None, t(2)), (2, 7, "C", t(3)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = sorted(
        (
            (r.user_id, r.event_type, r.valid_from_us, r.valid_to_us, r.is_current)
            for r in scd2_intervals(df, "user_id", "ts", ["event_type"],
                                    tiebreak=["event_id"]).collect()
        ),
        key=lambda x: (x[0], x[2]),
    )
    us = lambda s: int(t(s).timestamp() * 1_000_000)
    assert got == [
        (1, "A", us(1), us(3), 0),
        (1, "B", us(3), us(4), 0),
        (1, "A", us(4), None, 1),
        (2, None, us(1), us(3), 0),
        (2, "C", us(3), None, 1),
    ]
    # intervals chain: each closed interval's end is some start
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        scd2_intervals(df, "user_id", "ts", [])
