"""Incremental materialized-view maintenance over snapshot tables.

A materialized aggregate (GROUP BY keys → COUNT + SUMs) over a base
``SnapshotCatalog`` table — optionally over a registered row-local
TRANSFORM of it (see :data:`TRANSFORMS`; e.g. the token-explode that
turns a document table into inverted-index postings,
``plans/searchindex.py``) — kept fresh by O(delta) refreshes: each
refresh reads the base table's row-level changelog since the view's
pinned base snapshot (``SnapshotCatalog.changes`` — metadata-planned,
only files that entered or left the table are scanned), folds it into
SIGNED per-group deltas (insert → +1, delete → −1), and appends those
delta rows to the view in ONE atomic commit. Neither the base table
nor the view is ever rescanned by a refresh — at 100 TB a daily
refresh over a 0.1% churn reads 0.1% of the data and writes rows
proportional to the touched GROUPS, which is exactly the incremental
view-maintenance shape (classic delta/DRed maintenance of
distributive aggregates; Iceberg users build the same loop from
``create_changelog_view`` + MERGE).

Storage model — append-only signed deltas, netted on read:

* ``create`` commits the full aggregate once (the only base scan).
* ``refresh`` appends one delta row per touched group; the commit's
  lineage advances the pinned base snapshot, so the pin and the data
  are a single atomic unit — a crash leaves the old pin and no delta
  (retry recomputes the identical delta: changelog reads are
  deterministic between two pinned snapshots).
* ``read`` nets the deltas: one groupBy-sum over the view (view size
  ≈ groups + recent deltas, not the base table), dropping groups whose
  net row count reaches zero.
* ``compact`` folds the deltas back to one row per group (an
  overwrite commit that does NOT advance the pin) — run it on the
  maintenance cadence, like any small-file compaction.

Concurrency & durability guarantees:

* A refresh's delta is only valid against the exact view state it was
  computed from, so its commit carries ``expected_parent`` —
  validate-from-snapshot: a concurrent refresh (or any other view
  commit) makes the loser raise :class:`CommitConflict` with NOTHING
  committed, never the silent fast-append rebase that would apply the
  same delta twice. Retry re-reads the advanced pin and folds only
  what is still missing (usually nothing). ``compact`` guards its
  read-consolidate-overwrite the same way.
* The pinned base snapshot is protected from ``expire_snapshots`` /
  ``remove_orphan_files`` by a TAG on the base table (one generation
  per pin, ``mv_pin_<view-slug>_<hash>.<snapshot>``): the new pin's
  tag is created BEFORE the commit that adopts it and stale
  generations are swept AFTER, so no crash point leaves the window
  unprotected. If retention
  expires the commits BETWEEN the pin and the head (or a rollback
  strands the pin on a dead branch), the changelog read degrades to
  ``changes()``'s net endpoint diff — one file-set diff of pin state
  vs head state, still O(churned files) — so refresh stays correct
  under any retention policy; only removing the tag itself and
  expiring the pin forces a recreate.
* The view's definition rides in commit lineage, but reads walk the
  HISTORY for the newest mv-bearing commit — so a content-preserving
  maintenance commit on the view table (``maintain --compact``,
  z-order) doesn't orphan the definition.

Updates need no special case: a copy-on-write or MoR update surfaces
in the changelog as delete(old)+insert(new), which the signed fold
turns into the exact measure adjustment; a base-table compaction nets
to an EMPTY changelog (carryover elimination) and refresh appends
nothing. Measures are restricted to what signed deltas can maintain —
COUNT and SUM (AVG = sum/count at read time); MIN/MAX are not
delta-maintainable under deletes without a recompute, so they are
deliberately not offered. Delta sums are cast back to the view's
committed column types (a widened DECIMAL sum would otherwise fail
the append's schema check).

The reference has no analog: it recomputes its summary tables from
SQLite on every request (``src/datastore.py:214-268``); this module is
the 100 TB replacement where recomputing the base is not an option.
"""

from __future__ import annotations

import json
import re
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import Snapshot, SnapshotCatalog

_COUNT = "n_rows"

#: Registered row-local transforms a view may apply to the base rows
#: BEFORE the aggregate — name → factory(**args) → (DataFrame → DataFrame).
#: The delta fold commutes with any transform that is a deterministic
#: per-row flatMap (each output row derived from exactly ONE input row,
#: no cross-row state): a changelog delete of base row r then yields
#: exactly transform(r) with negative sign, cancelling what the insert
#: of r once contributed. Registered by NAME (stored in lineage — a
#: function could not be) so a refresh in a fresh session can resolve
#: it; e.g. ``plans/searchindex.py`` registers the inverted-index
#: transforms that make a BM25 search index an incrementally-
#: maintained materialized view.
TRANSFORMS: dict[str, Callable[..., Callable[[DataFrame], DataFrame]]] = {}


def register_transform(name: str):
    def deco(factory):
        TRANSFORMS[name] = factory
        return factory

    return deco


def _resolve_transform(spec: dict | None) -> Callable[[DataFrame], DataFrame] | None:
    if spec is None:
        return None
    name = spec["name"]
    if name not in TRANSFORMS:
        # self-heal the registry in a fresh session: the built-in
        # transform modules register on import
        from . import searchindex, vectorindex  # noqa: F401
    if name not in TRANSFORMS:
        raise LookupError(
            f"transform {name!r} is not registered; import the module "
            "that defines it before refreshing this view"
        )
    return TRANSFORMS[name](**spec.get("args", {}))


def _norm_transform(transform) -> dict | None:
    """Normalize the ``transform`` argument to its lineage form and
    fail fast on unknown names/args (a typo'd create would otherwise
    only surface at first refresh)."""
    if transform is None:
        return None
    if isinstance(transform, str):
        spec = {"name": transform, "args": {}}
    else:
        name, args = transform
        spec = {"name": str(name), "args": dict(args)}
    _resolve_transform(spec)
    return spec


def _pin_prefix(view: str) -> str:
    """Per-view tag namespace on the base table: a readable slice of
    the view name plus a hash of the FULL name, so distinct views can
    never collide into each other's tags (a collision would let one
    view's tag sweep unpin another's snapshot)."""
    import hashlib

    safe = re.sub(r"[^A-Za-z0-9_.\-]", "-", view)[:24]
    return f"mv_pin_{safe}_{hashlib.md5(view.encode()).hexdigest()[:8]}"


def _pin_tag(view: str, pin: str) -> str:
    """One tag PER PIN (generation scheme): the new pin's tag is
    created BEFORE the refresh commit and stale generations are swept
    AFTER it, so there is no instant at which the view's changelog
    window is unprotected — a crash at any point leaves at least one
    protective tag, cleaned up by the next successful refresh."""
    return f"{_pin_prefix(view)}.{pin}"


def _definition(
    catalog: SnapshotCatalog, view: str, as_of: str | None = None
) -> tuple[dict, Snapshot]:
    """The view's definition and its committed HEAD, from one
    consistent history read. The definition is the NEWEST mv-bearing
    snapshot — tolerant of content-preserving interlopers (a generic
    ``maintain --compact`` on the view table commits without mv
    lineage but keeps the rows); the returned snapshot is the head
    itself, which is what a serializable commit must expect as its
    parent. ``as_of`` (a view snapshot id) resolves the definition AS
    OF that commit instead of the live head — what a reader needs to
    pair a pinned data read with the definition that produced it."""
    if not catalog.exists(view):
        raise LookupError(f"no materialized view {view!r}")
    hist = catalog.history(view)
    if as_of is not None:
        pos = next(
            (i for i, s in enumerate(hist) if s.snapshot_id == as_of), None
        )
        if pos is None:
            raise LookupError(
                f"snapshot {as_of!r} is not in {view!r}'s committed history"
            )
        hist = hist[: pos + 1]
    # content-PRESERVING commits may sit between the head and the
    # defining commit: maintenance rewrites of the same rows, layout
    # changes, and additive schema evolution (the netting read selects
    # only the definition's columns, so an added column is ignored and
    # a widened measure still sums). Anything else without mv lineage
    # — a foreign overwrite, append, DML, or a rename/drop that the
    # definition's column names may reference — REPLACED or mutated
    # what the definition describes, so it must not resurrect
    _preserving = {
        "compact", "compact_partitions",
        "update-spec", "add-column", "widen-column",
    }
    for snap in reversed(hist):
        mv = (snap.lineage or {}).get("mv")
        if mv:
            return mv, hist[-1]
        if (snap.lineage or {}).get("stage") not in _preserving:
            break
    raise LookupError(
        f"table {view!r} is not a materialized view (no mv lineage at "
        "its head or behind content-preserving maintenance commits); "
        "create it with create_matview"
    )


def _ensure_pin_tag(
    catalog: SnapshotCatalog, view: str, base_table: str, pin: str
) -> bool:
    """Idempotently tag ``pin`` on the base (run BEFORE the commit
    that adopts it — an abandoned tag from a failed commit is swept by
    the next success, never the other way around). Returns True when
    this call created the tag. A concurrent refresh creating the same
    tag between the existence check and create_tag is tolerated (it
    pinned the identical snapshot; the racing COMMIT, not the tag, is
    what decides the winner)."""
    tag = _pin_tag(view, pin)
    if tag in catalog.tags(base_table):
        return False
    try:
        catalog.create_tag(base_table, tag, as_of=pin)
        return True
    except ValueError:
        if catalog.tags(base_table).get(tag) == pin:
            return False
        raise


def _sweep_pin_tags(
    catalog: SnapshotCatalog, view: str, base_table: str, keep_pin: str
) -> None:
    """Drop this view's stale pin-tag generations (run AFTER the
    commit that made ``keep_pin`` current). The match is exact-
    structure — ``<prefix>.<16-hex snapshot id>`` — never a bare
    startswith, so a view whose NAME embeds another view's prefix
    cannot have its tags swept by that view. The first-generation
    format (``mv_pin_<slug>`` with no pin suffix) is swept too."""
    pat = re.compile(re.escape(_pin_prefix(view)) + r"\.[0-9a-f]{16}$")
    keep = _pin_tag(view, keep_pin)
    legacy = ("mv_pin_" + re.sub(r"[^A-Za-z0-9_.\-]", "-", view))[:64]
    for name in list(catalog.tags(base_table)):
        if name == keep:
            continue
        if pat.fullmatch(name) or name == legacy:
            try:
                catalog.remove_tag(base_table, name)
            except (KeyError, LookupError):
                pass


def _delta(
    changes: DataFrame,
    group_by: list[str],
    sums: dict[str, str],
    cast_to: dict[str, str],
    count_from: str | None = None,
) -> DataFrame:
    """Fold a changelog into signed per-group delta rows, each measure
    cast back to the view's committed column type (Spark widens a
    summed DECIMAL's precision, which would otherwise fail the
    append's schema-evolution check). ``count_from`` makes the count
    measure a signed SUM of that base column instead of ±1 per row —
    the cascading hook (see :func:`create_matview`)."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    cnt = sign * F.col(count_from) if count_from else sign
    aggs = [F.sum(cnt).cast("long").alias(_COUNT)]
    for out, src in sums.items():
        agg = F.sum(sign * F.col(src))
        if out in cast_to:
            agg = agg.cast(cast_to[out])
        aggs.append(agg.alias(out))
    folded = changes.groupBy(*group_by).agg(*aggs)
    # drop no-op groups (equal inserts and deletes of identical values)
    touched = F.col(_COUNT) != 0
    for out in sums:
        touched = touched | (F.coalesce(F.col(out), F.lit(0)) != 0)
    return folded.filter(touched)


def create_matview(
    catalog: SnapshotCatalog,
    view: str,
    base_table: str,
    group_by: list[str],
    sums: dict[str, str] | None = None,
    replace: bool = False,
    transform: str | tuple[str, dict] | None = None,
    base_as_of: str | None = None,
    count_from: str | None = None,
) -> Snapshot:
    """Create ``view`` = SELECT group_by, COUNT(*) AS n_rows,
    SUM(src) AS out... FROM transform(base_table) GROUP BY group_by —
    the one and only full scan of the base this view will ever take.
    ``sums`` maps output column name → base column name (integer/long
    measures recommended: signed folding is then exact and
    order-independent). ``transform`` names a registered row-local
    flatMap (see :data:`TRANSFORMS`) applied to the base rows before
    the aggregate — group/sum columns then refer to the TRANSFORMED
    schema; refreshes apply it to each changelog side, which is sound
    exactly because a per-row transform commutes with the signed fold.
    ``base_as_of`` pins an explicit base snapshot id instead of the
    live head — callers creating SEVERAL views over one base (e.g.
    the search index's postings + stats pair) pass the same id so all
    views are born on one consistent base cut even when the base is
    being written concurrently. Refuses to overwrite an existing
    table unless ``replace=True`` (and never the base table
    itself).

    ``count_from`` names a base column whose SUM (not COUNT(*))
    becomes the ``n_rows`` measure — the CASCADING hook: a matview's
    own table stores signed delta rows whose ``n_rows`` column
    carries each group's live-row count, so a view OVER a view
    (``create_matview(cat, coarse_view, fine_view, group_by=coarser
    keys, sums={out: fine_sum_col}, count_from="n_rows")``) folds the
    fine view's delta appends into exactly the coarse deltas: signed
    sums of signed deltas compose, upstream compaction nets to an
    empty downstream delta, and liveness (``n_rows > 0`` at read)
    counts LIVE BASE ROWS through the whole lattice rather than delta
    rows. Day → month → year rollup chains stay O(delta) end to
    end."""
    sums = dict(sums or {})
    tspec = _norm_transform(transform)
    if view == base_table:
        raise ValueError(
            f"view and base table are both {view!r}: creating the view "
            "would overwrite the base it aggregates"
        )
    if _COUNT in sums or _COUNT in group_by:
        raise ValueError(f"{_COUNT!r} is the reserved count measure")
    clash = set(sums) & set(group_by)
    if clash:
        raise ValueError(
            f"sum output name(s) {sorted(clash)} collide with group_by columns"
        )
    old_bases: set[str] = set()
    if catalog.exists(view):
        if not replace:
            raise ValueError(
                f"table {view!r} already exists; pass replace=True to "
                "rebuild it as this materialized view"
            )
        # every base this view EVER pinned (any mv-bearing commit, not
        # just a currently-valid definition — a foreign overwrite may
        # have invalidated it without releasing the old base's anchors)
        old_bases = {
            (s.lineage or {}).get("mv", {}).get("base_table")
            for s in catalog.history(view)
        } - {None}
    if base_as_of is None:
        base_snap = catalog.snapshot(base_table)
    else:
        base_snap = next(
            (s for s in catalog.history(base_table)
             if s.snapshot_id == base_as_of),
            None,
        )
        if base_snap is None:
            raise LookupError(
                f"base_as_of {base_as_of!r} is not in {base_table!r}'s "
                "committed history"
            )
    if base_snap is None:
        raise LookupError(f"no committed base table {base_table!r}")
    tagged_here = _ensure_pin_tag(catalog, view, base_table, base_snap.snapshot_id)
    try:
        df = catalog.read_table(base_table, as_of=base_snap.snapshot_id)
        t = _resolve_transform(tspec)
        if t is not None:
            df = t(df)
        cnt = F.sum(count_from) if count_from else F.count(F.lit(1))
        aggs = [cnt.cast("long").alias(_COUNT)]
        for out, src in sums.items():
            aggs.append(F.sum(src).alias(out))
        full = df.groupBy(*group_by).agg(*aggs)
        mv_lineage = {
            "base_table": base_table,
            "base_snapshot": base_snap.snapshot_id,
            "group_by": list(group_by),
            "sums": sums,
            "stage": "create",
        }
        if tspec is not None:
            mv_lineage["transform"] = tspec
        if count_from is not None:
            mv_lineage["count_from"] = count_from
        snap = catalog.write_table(
            full,
            view,
            mode="overwrite",
            lineage={"mv": mv_lineage},
        )
    except BaseException:
        # a failed create must not leave its pre-commit tag pinning a
        # base snapshot against retention forever (e.g. a typo'd
        # measure column fails deterministically on every retry)
        if tagged_here:
            try:
                catalog.remove_tag(base_table, _pin_tag(view, base_snap.snapshot_id))
            except (KeyError, LookupError):
                pass
        raise
    for old in old_bases - {base_table}:
        # re-pointed away: release every anchor this view held there
        # (keep_pin="" matches none)
        _sweep_pin_tags(catalog, view, old, "")
    _sweep_pin_tags(catalog, view, base_table, base_snap.snapshot_id)
    return snap


def _view_schema(view_snap: Snapshot) -> StructType | None:
    if not view_snap.schema_json:
        return None
    return StructType.fromJson(json.loads(view_snap.schema_json))


def _view_types(view_snap: Snapshot, sums: dict[str, str]) -> dict[str, str]:
    schema = _view_schema(view_snap)
    if schema is None:
        return {}
    return {
        f.name: f.dataType.simpleString() for f in schema.fields if f.name in sums
    }


def _pad_to_schema(delta: DataFrame, view_snap: Snapshot) -> DataFrame:
    """Null-pad the delta for view columns the fold doesn't produce —
    additive schema evolution on the view (add_column) widens the
    table beyond the definition's columns, and the append requires
    them all. Null measures net as zero contributions."""
    schema = _view_schema(view_snap)
    if schema is None:
        return delta
    for f in schema.fields:
        if f.name not in delta.columns:
            delta = delta.withColumn(f.name, F.lit(None).cast(f.dataType))
    return delta


def refresh_matview(catalog: SnapshotCatalog, view: str) -> Snapshot | None:
    """Advance ``view`` to the base table's current snapshot by
    appending signed delta rows — O(changed files + touched groups),
    zero reads of the view or the unchanged base. Returns the delta
    commit, or None when the base has not advanced (no commit at all,
    so a refresh cron is free on idle tables).

    Atomic and serializable: the delta rows and the new base pin land
    in one snapshot commit that requires the view head to still be the
    snapshot this refresh planned against (``expected_parent``) — a
    concurrent refresh makes the loser raise :class:`CommitConflict`
    with nothing committed (retry folds whatever is still missing),
    never a double-applied delta. On success the base-table pin tag
    moves forward so retention sweeps can't expire the changelog
    window the NEXT refresh needs."""
    mv, view_snap = _definition(catalog, view)
    base_table = mv["base_table"]
    base_snap = catalog.snapshot(base_table)
    if base_snap is None:
        raise LookupError(f"base table {base_table!r} of view {view!r} vanished")
    if base_snap.snapshot_id == mv["base_snapshot"]:
        return None
    try:
        changes = catalog.changes(
            base_table,
            from_snapshot=mv["base_snapshot"],
            to_snapshot=base_snap.snapshot_id,
        )
    except LookupError as e:
        raise LookupError(
            f"view {view!r} cannot fold the base changelog from its pin "
            f"{mv['base_snapshot']!r}: {e}. If the pin's tag "
            f"({_pin_tag(view, mv['base_snapshot'])!r}) was removed and "
            "the snapshot expired from the base, recreate the view "
            "(create_matview(..., replace=True)) to re-baseline; a "
            "transient read failure just needs a retry"
        ) from e
    t = _resolve_transform(mv.get("transform"))
    cached = None
    if t is not None:
        # the transform sees BASE rows only; apply it per changelog
        # side and re-attach the sign column (a row-local flatMap maps
        # each output row to exactly one input row, so every output of
        # a deleted row's transform carries that row's delete sign).
        # The split-then-union references the changelog TWICE — cache
        # it so the metadata-planned read and drop_carryovers shuffle
        # run once, not once per side.
        from pyspark import StorageLevel

        cached = changes = changes.persist(StorageLevel.MEMORY_AND_DISK)
        meta = [c for c in ("_commit_snapshot_id", "_change_ordinal")
                if c in changes.columns]
        sides = []
        for ctype in ("insert", "delete"):
            side = changes.filter(F.col("_change_type") == ctype).drop(
                "_change_type", *meta
            )
            sides.append(t(side).withColumn("_change_type", F.lit(ctype)))
        changes = sides[0].unionByName(sides[1])
    try:
        delta = _pad_to_schema(
            _delta(changes, mv["group_by"], mv["sums"],
                   _view_types(view_snap, mv["sums"]),
                   count_from=mv.get("count_from")),
            view_snap,
        )
        _ensure_pin_tag(catalog, view, base_table, base_snap.snapshot_id)
        snap = catalog.write_table(
            delta,
            view,
            mode="append",
            expected_parent=view_snap.snapshot_id,
            lineage={
                "mv": {**mv, "base_snapshot": base_snap.snapshot_id, "stage": "refresh"}
            },
        )
    finally:
        if cached is not None:
            cached.unpersist()
    _sweep_pin_tags(catalog, view, base_table, base_snap.snapshot_id)
    return snap


def _netted_read(
    catalog: SnapshotCatalog,
    view: str,
    mv: dict,
    view_snap: Snapshot,
    as_of: str | None = None,
) -> DataFrame:
    """The netting aggregation for an ALREADY-resolved definition —
    callers that captured (definition, head) themselves (a multi-view
    consistent cut, ``plans/searchindex.py``) avoid re-walking the
    history log here."""
    df = catalog.read_table(view, as_of=as_of)
    types = _view_types(view_snap, mv["sums"])
    aggs = [F.sum(_COUNT).cast("long").alias(_COUNT)]
    for out in mv["sums"]:
        agg = F.sum(out)
        if out in types:
            agg = agg.cast(types[out])
        aggs.append(agg.alias(out))
    return (
        df.groupBy(*mv["group_by"])
        .agg(*aggs)
        .filter(F.col(_COUNT) > 0)
    )


def read_matview(
    catalog: SnapshotCatalog, view: str, as_of: str | None = None
) -> DataFrame:
    """The view's contents: deltas netted by one groupBy-sum over the
    view table (≈ groups + recent delta rows — never the base), groups
    netted to zero rows dropped. ``as_of`` (a view snapshot id) reads
    a pinned state — data AND definition resolved at that commit — so
    multi-view readers can take a consistent cut that a concurrent
    refresh cannot shear (see ``plans/searchindex.py``)."""
    mv, view_snap = _definition(catalog, view, as_of=as_of)
    return _netted_read(catalog, view, mv, view_snap, as_of=as_of)


def matview_status(catalog: SnapshotCatalog, view: str) -> dict:
    """Freshness probe: the pinned vs current base snapshot and how
    many base commits the view is behind — metadata-only (history
    walk, no data read). A monitoring loop alerts on ``lag_commits``;
    ``pin_in_history=False`` means the pin fell off the base's
    committed chain (expired intermediates or a rollback) — refresh
    still works via the changelog's net endpoint diff as long as the
    pin tag keeps the snapshot alive, but lag can't be counted."""
    mv, _ = _definition(catalog, view)
    hist = catalog.history(mv["base_table"])
    pos = {s.snapshot_id: i for i, s in enumerate(hist)}
    pinned = pos.get(mv["base_snapshot"])
    current = len(hist) - 1
    return {
        "base_table": mv["base_table"],
        "pinned_base_snapshot": mv["base_snapshot"],
        "current_base_snapshot": hist[-1].snapshot_id if hist else None,
        "pin_in_history": pinned is not None,
        "lag_commits": (current - pinned) if pinned is not None else None,
        "fresh": pinned == current,
    }


def compact_matview(catalog: SnapshotCatalog, view: str) -> Snapshot:
    """Fold the accumulated delta rows back to one row per live group
    (an overwrite commit; the base pin is carried over UNCHANGED, so
    compaction commutes with refresh). Read results are identical
    before and after — only the netting work at read time shrinks.
    Serializable: the overwrite requires the view head it consolidated
    FROM (a refresh landing mid-compact raises :class:`CommitConflict`
    instead of having its delta silently discarded)."""
    mv, view_snap = _definition(catalog, view)
    netted = _pad_to_schema(read_matview(catalog, view), view_snap)
    return catalog.write_table(
        netted,
        view,
        mode="overwrite",
        expected_parent=view_snap.snapshot_id,
        lineage={"mv": {**mv, "stage": "compact"}},
    )
