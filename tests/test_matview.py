"""Incremental materialized-view maintenance (plans/matview.py):
create = the only base scan; refresh = O(delta) signed-delta append
driven by the base changelog; read = netted groupBy; compact =
consolidation that commutes with refresh. Every mutation kind the
catalog offers (append, merge update, row-level delete, MoR upsert,
base compaction) must net the view to the same result as a full
recompute over the base's current state.
"""

import pytest
from pyspark.sql import functions as F

from log_parser_project_spark.catalog import SnapshotCatalog
from log_parser_project_spark.plans.matview import (
    compact_matview,
    create_matview,
    matview_status,
    read_matview,
    refresh_matview,
)


@pytest.fixture()
def cat(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "wh"))


def _rows(spark, ks, grp=lambda k: "g%d" % (k % 3), cents=lambda k: 100 * k):
    return spark.createDataFrame(
        [(k, grp(k), cents(k)) for k in ks], "k int, g string, cents long"
    )


def _recompute(cat):
    return (
        cat.read_table("base")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def _netted_rows(cat):
    return {
        r.g: (r.n_rows, r.sum_cents)
        for r in read_matview(cat, "mv").collect()
    }


def _expected(cat):
    return {r.g: (r.n_rows, r.sum_cents) for r in _recompute(cat).collect()}


def test_create_equals_direct_aggregate(spark, cat):
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    assert _netted_rows(cat) == _expected(cat)


def test_refresh_after_append_is_delta_sized(spark, cat):
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    # append touches only group g1 (k=31,34 -> g1? 31%3=1, 34%3=1)
    cat.write_table(_rows(spark, [31, 34]), "base", mode="append")
    snap = refresh_matview(cat, "mv")
    assert snap is not None
    # the delta commit holds rows proportional to touched GROUPS (1),
    # not the base or the view
    assert snap.row_count == 1
    assert _netted_rows(cat) == _expected(cat)


def test_refresh_noop_when_base_unchanged(spark, cat):
    cat.write_table(_rows(spark, range(1, 11)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    before = cat.snapshot("mv").snapshot_id
    assert refresh_matview(cat, "mv") is None
    assert cat.snapshot("mv").snapshot_id == before
    assert matview_status(cat, "mv")["fresh"] is True


def test_refresh_folds_update_delete_and_upsert(spark, cat):
    cat.write_table(_rows(spark, range(1, 61)), "base", partition_by=["g"])
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    # CoW update: every k%10==0 gains 7 cents
    cat.update_where("base", {"cents": F.col("cents") + 7},
                     where=F.col("k") % 10 == 0)
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)
    # row-level delete: k%7==0 leaves
    cat.delete_where("base", where=F.col("k") % 7 == 0)
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)
    # MoR upsert: k%4==0 rewritten with new cents + one new key
    upsert = _rows(spark, [100], cents=lambda k: 55).unionByName(
        _rows(spark, [k for k in range(1, 61) if k % 4 == 0 and k % 7 != 0],
              cents=lambda k: 1)
    )
    cat.merge(upsert, "base", on=["k"], strategy="mor")
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_group_netted_to_zero_disappears(spark, cat):
    cat.write_table(_rows(spark, range(1, 10)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.delete_where("base", where=F.col("g") == "g0")
    refresh_matview(cat, "mv")
    netted = _netted_rows(cat)
    assert "g0" not in netted
    assert netted == _expected(cat)


def test_base_compaction_yields_empty_delta(spark, cat):
    cat.write_table(_rows(spark, range(1, 21)), "base")
    cat.write_table(_rows(spark, range(21, 41)), "base", mode="append")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.compact("base")
    snap = refresh_matview(cat, "mv")
    # the pin must advance (commit happens) but carryover elimination
    # makes the delta EMPTY — a pure rewrite changes no group
    assert snap is not None and snap.row_count == 0
    assert matview_status(cat, "mv")["fresh"] is True
    assert _netted_rows(cat) == _expected(cat)


def test_compact_matview_commutes_with_refresh(spark, cat):
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, range(31, 46)), "base", mode="append")
    refresh_matview(cat, "mv")
    before = _netted_rows(cat)
    mv_pin = matview_status(cat, "mv")["pinned_base_snapshot"]
    compact_matview(cat, "mv")
    # results identical, one physical row per live group, pin untouched
    assert _netted_rows(cat) == before
    assert cat.read_table("mv").count() == len(before)
    assert matview_status(cat, "mv")["pinned_base_snapshot"] == mv_pin
    # and refresh keeps working after compaction
    cat.write_table(_rows(spark, [100, 101]), "base", mode="append")
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_count_only_view_and_reserved_measure(spark, cat):
    cat.write_table(_rows(spark, range(1, 13)), "base")
    create_matview(cat, "mv", "base", ["g"])
    got = {r.g: r.n_rows for r in read_matview(cat, "mv").collect()}
    assert got == {g: n for g, (n, _) in _expected(cat).items()}
    with pytest.raises(ValueError, match="reserved"):
        create_matview(cat, "mv2", "base", ["g"], {"n_rows": "cents"})


def test_status_lag_counts_base_commits(spark, cat):
    cat.write_table(_rows(spark, range(1, 6)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [7]), "base", mode="append")
    cat.write_table(_rows(spark, [8]), "base", mode="append")
    st = matview_status(cat, "mv")
    assert st["lag_commits"] == 2 and st["fresh"] is False
    refresh_matview(cat, "mv")
    assert matview_status(cat, "mv")["lag_commits"] == 0


def test_non_matview_table_rejected(spark, cat):
    cat.write_table(_rows(spark, range(1, 4)), "plain_t")
    with pytest.raises(LookupError, match="not a materialized view"):
        refresh_matview(cat, "plain_t")
    with pytest.raises(LookupError, match="no materialized view"):
        read_matview(cat, "absent")


def test_concurrent_refresh_conflicts_instead_of_double_applying(spark, cat):
    """Two refreshes racing from the same pin: the loser must raise
    CommitConflict with NOTHING committed (expected_parent CAS) — the
    catalog's fast-append rebase would otherwise apply the same delta
    twice and corrupt the view forever."""
    from log_parser_project_spark.catalog import CommitConflict

    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [31, 34]), "base", mode="append")

    orig_changes = cat.changes
    fired = {}

    def racing_changes(table, **kw):
        if "winner" not in fired:
            fired["winner"] = True
            refresh_matview(cat, "mv")  # the winner commits first
        return orig_changes(table, **kw)

    cat.changes = racing_changes
    try:
        with pytest.raises(CommitConflict):
            refresh_matview(cat, "mv")
    finally:
        cat.changes = orig_changes
    # winner's single delta stands; loser left no trace; retry is a no-op
    assert _netted_rows(cat) == _expected(cat)
    assert refresh_matview(cat, "mv") is None


def test_concurrent_refresh_under_compact_conflicts(spark, cat):
    """compact_matview consolidates from the head it read; a refresh
    landing mid-compact must conflict, not have its delta overwritten
    away."""
    from log_parser_project_spark.catalog import CommitConflict

    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [31]), "base", mode="append")
    refresh_matview(cat, "mv")
    # stage a competing refresh between compact's read and its commit
    # by advancing the view AFTER compact read its definition/head
    cat.write_table(_rows(spark, [32]), "base", mode="append")
    orig_read = cat.read_table
    fired = {}

    def racing_read(table, **kw):
        if table == "mv" and "raced" not in fired:
            fired["raced"] = True
            df = orig_read(table, **kw)
            refresh_matview(cat, "mv")  # lands between read and commit
            return df
        return orig_read(table, **kw)

    cat.read_table = racing_read
    try:
        with pytest.raises(CommitConflict):
            compact_matview(cat, "mv")
    finally:
        cat.read_table = orig_read
    assert _netted_rows(cat) == _expected(cat)


def test_decimal_sum_measure_refreshes(spark, cat):
    """Spark widens a summed DECIMAL's precision; the delta fold must
    cast back to the view's committed type or every refresh fails the
    append's schema check."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [(k, "g%d" % (k % 2), Decimal(k) / 4) for k in range(1, 21)],
        "k int, g string, amt decimal(15,2)",
    )
    cat.write_table(df, "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_amt": "amt"})
    cat.write_table(
        spark.createDataFrame([(100, "g0", Decimal("2.25"))],
                              "k int, g string, amt decimal(15,2)"),
        "base", mode="append",
    )
    assert refresh_matview(cat, "mv") is not None
    got = {r.g: (r.n_rows, r.sum_amt)
           for r in read_matview(cat, "mv").collect()}
    exp = {r.g: (r.n_rows, r.sum_amt)
           for r in cat.read_table("base").groupBy("g").agg(
               F.count(F.lit(1)).cast("long").alias("n_rows"),
               F.sum("amt").alias("sum_amt")).collect()}
    assert got == exp


def test_refresh_survives_base_expiry_between_crons(spark, cat):
    """expire_snapshots(keep_last=1) between two refreshes drops the
    chain between the pin and the head; the pin tag keeps the pinned
    snapshot alive and changes() degrades to the net endpoint diff, so
    refresh still folds correctly instead of bricking."""
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [31, 34]), "base", mode="append")
    cat.write_table(_rows(spark, [35]), "base", mode="append")
    cat.delete_where("base", where=F.col("k") % 9 == 0)
    cat.expire_snapshots("base", keep_last=1)
    assert matview_status(cat, "mv")["pin_in_history"] is False
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)
    assert matview_status(cat, "mv")["fresh"] is True


def test_refresh_survives_base_rollback(spark, cat):
    """A base rollback strands the pin on a dead branch; the net
    endpoint diff folds the view BACK to the restored state (the
    rolled-back rows' contributions are subtracted)."""
    s1 = cat.write_table(_rows(spark, range(1, 31)), "base")
    cat.write_table(_rows(spark, [31, 34]), "base", mode="append")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.rollback("base", s1.snapshot_id)
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_create_guards(spark, cat):
    cat.write_table(_rows(spark, range(1, 11)), "base")
    with pytest.raises(ValueError, match="overwrite the base"):
        create_matview(cat, "base", "base", ["g"])
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    with pytest.raises(ValueError, match="already exists"):
        create_matview(cat, "mv", "base", ["g"])
    with pytest.raises(ValueError, match="collide with group_by"):
        create_matview(cat, "mv2", "base", ["g"], {"g": "cents"})
    with pytest.raises(ValueError, match="reserved"):
        create_matview(cat, "mv2", "base", ["n_rows"], {"s": "cents"})
    # replace rebuilds in place and the view keeps working
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"},
                   replace=True)
    cat.write_table(_rows(spark, [100]), "base", mode="append")
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_definition_survives_generic_view_compact(spark, cat):
    """A maintenance compact on the VIEW table commits without mv
    lineage; definition lookup walks history so the view keeps
    working (the compact preserves the delta rows)."""
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [31]), "base", mode="append")
    refresh_matview(cat, "mv")
    cat.compact("mv")  # generic table maintenance, no mv lineage
    assert _netted_rows(cat) == _expected(cat)
    cat.write_table(_rows(spark, [32]), "base", mode="append")
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_pin_tag_moves_with_refresh(spark, cat):
    from log_parser_project_spark.plans.matview import _pin_prefix, _pin_tag

    cat.write_table(_rows(spark, range(1, 11)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    pin0 = matview_status(cat, "mv")["pinned_base_snapshot"]
    assert cat.tags("base")[_pin_tag("mv", pin0)] == pin0
    cat.write_table(_rows(spark, [20]), "base", mode="append")
    refresh_matview(cat, "mv")
    pin1 = matview_status(cat, "mv")["pinned_base_snapshot"]
    mine = {n: s for n, s in cat.tags("base").items()
            if n.startswith(_pin_prefix("mv"))}
    # exactly one generation survives the sweep: the current pin's
    assert pin1 != pin0 and mine == {_pin_tag("mv", pin1): pin1}


def test_pin_tags_are_per_view_namespaced(spark, cat):
    """Two views over one base must never sweep each other's anchors
    (the tag name hashes the FULL view name)."""
    from log_parser_project_spark.plans.matview import _pin_prefix

    cat.write_table(_rows(spark, range(1, 11)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    create_matview(cat, "mv2", "base", ["g"])
    assert _pin_prefix("mv") != _pin_prefix("mv2")
    cat.write_table(_rows(spark, [20]), "base", mode="append")
    refresh_matview(cat, "mv")  # sweeps only mv's stale generations
    tags = cat.tags("base")
    assert any(n.startswith(_pin_prefix("mv2")) for n in tags)
    assert refresh_matview(cat, "mv2") is not None
    assert {r.g: r.n_rows for r in read_matview(cat, "mv2").collect()} == {
        g: n for g, (n, _) in _expected(cat).items()
    }


def test_foreign_overwrite_of_view_is_not_a_matview(spark, cat):
    """A plain overwrite REPLACES the view's contents; the old
    definition must not resurrect over data it no longer describes."""
    cat.write_table(_rows(spark, range(1, 11)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [99]), "mv", mode="overwrite")
    with pytest.raises(LookupError, match="not a materialized view"):
        read_matview(cat, "mv")
    with pytest.raises(LookupError, match="not a materialized view"):
        refresh_matview(cat, "mv")


def test_refresh_survives_expiry_over_mor_base(spark, cat):
    """The off-chain net endpoint diff must also work when the base
    carries merge-on-read delete entries (the state-diff path reads
    the pinned endpoint BY ID, which only resolves because refs keep
    it addressable)."""
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.merge(_rows(spark, [3, 6], cents=lambda k: 5), "base", on=["k"],
              strategy="mor")
    cat.write_table(_rows(spark, [31]), "base", mode="append")
    cat.expire_snapshots("base", keep_last=1)
    assert matview_status(cat, "mv")["pin_in_history"] is False
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_view_schema_evolution_is_content_preserving(spark, cat):
    """Additive schema evolution on the VIEW table (add-column,
    update-spec) must not brick the definition lookup — the netting
    read selects only the definition's columns."""
    cat.write_table(_rows(spark, range(1, 31)), "base")
    create_matview(cat, "mv", "base", ["g"], {"sum_cents": "cents"})
    cat.write_table(_rows(spark, [31]), "base", mode="append")
    refresh_matview(cat, "mv")
    cat.add_column("mv", "note", "string")
    assert _netted_rows(cat) == _expected(cat)
    cat.write_table(_rows(spark, [32]), "base", mode="append")
    assert refresh_matview(cat, "mv") is not None
    assert _netted_rows(cat) == _expected(cat)


def test_failed_create_leaves_no_pin_tag(spark, cat):
    """A create that fails (typo'd measure column) must not leave its
    pre-commit pin tag anchoring a base snapshot against retention."""
    from log_parser_project_spark.plans.matview import _pin_prefix

    cat.write_table(_rows(spark, range(1, 11)), "base")
    with pytest.raises(Exception):
        create_matview(cat, "mv_bad", "base", ["g"], {"s": "no_such_col"})
    assert not any(
        n.startswith(_pin_prefix("mv_bad")) for n in cat.tags("base")
    )


def test_ensure_pin_tag_race_tolerated(spark, cat):
    """A concurrent refresh creating the identical pin tag between the
    existence check and create_tag must not surface as ValueError —
    the racing COMMIT decides the winner, not the tag."""
    from log_parser_project_spark.plans.matview import (
        _ensure_pin_tag, _pin_tag)

    s1 = cat.write_table(_rows(spark, range(1, 6)), "base")
    orig_tags = cat.tags

    def racy_tags(table):
        # first call reports absent, then the "other refresh" lands it
        cat.tags = orig_tags
        cat.create_tag("base", _pin_tag("mv", s1.snapshot_id))
        return {}

    cat.tags = racy_tags
    try:
        assert _ensure_pin_tag(cat, "mv", "base", s1.snapshot_id) is False
    finally:
        cat.tags = orig_tags


def test_sweep_is_structure_exact_and_clears_legacy(spark, cat):
    """The sweep matches <prefix>.<16-hex> exactly — a view whose NAME
    embeds another view's prefix keeps its tags — and the
    first-generation bare-name format is cleaned up."""
    from log_parser_project_spark.plans.matview import (
        _pin_prefix, _pin_tag, _sweep_pin_tags)

    s1 = cat.write_table(_rows(spark, range(1, 6)), "base")
    # legacy-format tag from the first-generation scheme
    cat.create_tag("base", "mv_pin_mv", as_of=s1.snapshot_id)
    # another view whose tag NAME starts with view "mv"'s prefix
    evil = _pin_prefix("mv") + ".x"
    other = f"{evil}_deadbeef.{s1.snapshot_id}"
    cat.create_tag("base", other, as_of=s1.snapshot_id)
    cat.create_tag("base", _pin_tag("mv", s1.snapshot_id), as_of=s1.snapshot_id)
    _sweep_pin_tags(cat, "mv", "base", "ffffffffffffffff")
    tags = cat.tags("base")
    assert "mv_pin_mv" not in tags               # legacy swept
    assert _pin_tag("mv", s1.snapshot_id) not in tags  # stale gen swept
    assert other in tags                          # other view untouched


# ---------------------------------------------------------------------------
# cascaded views (count_from: a view over a view's delta table)
# ---------------------------------------------------------------------------

def _cascade(cat, spark, ks):
    cat.write_table(_rows(spark, ks), "base")
    create_matview(cat, "fine", "base", ["g", "k"], {"sum_cents": "cents"})
    create_matview(cat, "coarse", "fine", ["g"], {"sum_cents": "sum_cents"},
                   count_from="n_rows")


def _coarse_expected(cat):
    return sorted(
        tuple(r)
        for r in cat.read_table("base")
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum("cents").alias("sum_cents"))
        .collect()
    )


def test_cascade_tracks_base_through_mutations(spark, cat):
    _cascade(cat, spark, range(1, 10))
    cat.write_table(_rows(spark, [10, 11]), "base", mode="append")
    refresh_matview(cat, "fine"); refresh_matview(cat, "coarse")
    cat.update_where("base", {"cents": F.col("cents") + 1},
                     where=F.col("k") % 2 == 0)
    refresh_matview(cat, "fine"); refresh_matview(cat, "coarse")
    cat.delete_where("base", where=F.col("k") % 5 == 0)
    refresh_matview(cat, "fine"); refresh_matview(cat, "coarse")
    got = sorted(tuple(r) for r in read_matview(cat, "coarse").collect())
    assert got == _coarse_expected(cat)


def test_cascade_upstream_compaction_nets_empty_delta(spark, cat):
    _cascade(cat, spark, range(1, 10))
    cat.write_table(_rows(spark, [20, 21]), "base", mode="append")
    refresh_matview(cat, "fine"); refresh_matview(cat, "coarse")
    raw_before = cat.read_table("coarse").count()
    compact_matview(cat, "fine")
    snap = refresh_matview(cat, "coarse")
    assert snap is not None  # the pin must advance past the compact
    # ...but with ZERO delta rows: consolidation is invisible downstream
    assert cat.read_table("coarse").count() == raw_before
    got = sorted(tuple(r) for r in read_matview(cat, "coarse").collect())
    assert got == _coarse_expected(cat)


def test_cascade_liveness_counts_base_rows_not_delta_rows(spark, cat):
    _cascade(cat, spark, range(1, 10))
    # kill an entire coarse group: g1 = ks {1,4,7}
    cat.delete_where("base", where=F.col("g") == "g1")
    refresh_matview(cat, "fine"); refresh_matview(cat, "coarse")
    live = read_matview(cat, "coarse")
    assert live.filter(F.col("g") == "g1").count() == 0
    # the dead group's delta rows still sit in the coarse TABLE (it
    # was netted out, not rewritten) — liveness is the n_rows sum
    assert cat.read_table("coarse").filter(F.col("g") == "g1").count() > 0
    got = sorted(tuple(r) for r in live.collect())
    assert got == _coarse_expected(cat)


def test_cascade_lineage_round_trips_count_from(spark, cat):
    _cascade(cat, spark, range(1, 4))
    mv = (cat.history("coarse")[-1].lineage or {})["mv"]
    assert mv["count_from"] == "n_rows"
    assert mv["base_table"] == "fine"
    # plain views keep their lineage count_from-free
    fine = (cat.history("fine")[-1].lineage or {})["mv"]
    assert "count_from" not in fine
