"""Table catalog: parquet + snapshot manifests in place of Iceberg.

The north rule calls for Iceberg tables. This sandbox has no
``iceberg-spark-runtime`` jar and no network, so :class:`SnapshotCatalog`
is a parquet layout that preserves the *properties* we rely on Iceberg
for (SURVEY.md §7.4 risk 1), with ONE commit path for every table:

* **partitioned layout** — ``partitionBy(...)`` directories give the
  same partition-pruning behavior Catalyst would get from Iceberg
  partition specs (``days(ts)``/``bucket(conv_id)`` analogs);
* **atomic commits with snapshot manifests** — every write lands in a
  fresh snapshot directory and commits a manifest (snapshot id, row
  count, lineage, the list of live data directories) under
  ``<warehouse>/_manifests/`` by an atomic pointer swap — the parquet
  stand-in for Iceberg's snapshot log. A dynamic overwrite
  (``replace_partitions``) is just another snapshot; the checkpointed
  pipeline (``streaming/checkpoint.py``) and the streaming sink
  (``streaming/stream.py``) commit their per-group / per-batch units
  through it for idempotent re-runs.
"""

from __future__ import annotations

import contextlib
import datetime
import fcntl
import json
import math
import os
import re
import time
import uuid
from dataclasses import asdict, dataclass, field, replace

import pandas as pd

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(ValueError):
    """A commit lost the optimistic-concurrency race: the table (or
    branch) advanced between the writer reading its parent snapshot
    and the commit point, and the operation could not be rebased.
    Re-read the table and retry — the Iceberg
    ``CommitFailedException`` analog. Subclasses ``ValueError`` so
    pre-existing callers that caught the branch-race ValueError keep
    working."""


class CatalogTransaction:
    """Accumulates ONE staged write per table for
    :meth:`SnapshotCatalog.transaction`. Each :meth:`write_table`
    stages immediately (data + log line, no pointer); :meth:`commit`
    publishes every pointer atomically, :meth:`abandon` sweeps the
    stages. Branch writes are excluded (a branch IS its own staging
    mechanism), and a second write to the same table is rejected —
    fold multi-writes into one frame, or commit two transactions."""

    def __init__(self, cat):
        self._cat = cat
        self._staged: dict = {}
        self._done = False

    def write_table(self, df, table: str, **kw):
        if self._done:
            raise RuntimeError("transaction already committed or abandoned")
        if table in self._staged:
            raise ValueError(
                f"table {table!r} already staged in this transaction; one "
                "write per table (union the frames or use two transactions)"
            )
        if kw.pop("staged", True) is not True:
            raise ValueError("transaction writes are implicitly staged")
        if kw.get("branch") is not None:
            raise ValueError("branch writes cannot join a transaction")
        snap = self._cat.write_table(df, table, staged=True, **kw)
        self._staged[table] = snap
        return snap

    def commit(self) -> None:
        if self._done:
            return
        self._cat._commit_transaction(self._staged)
        self._done = True

    def abandon(self) -> None:
        if self._done:
            return
        self._done = True
        for t, s in self._staged.items():
            try:
                self._cat.abandon_stage(t, s.snapshot_id)
            except Exception:
                # best-effort: remove_orphan_files(sweep_staged=True)
                # collects whatever a torn abandon leaves behind
                pass


@dataclass
class Snapshot:
    """One committed write — the parquet analog of an Iceberg snapshot.

    ``state`` is the manifest: the list of data directories
    (warehouse-relative) whose files make up the table at this
    snapshot, each with partition-subpath ``exclude`` prefixes for
    manifest-level partition replacement (Iceberg's overwrite-by-filter
    without touching old files).
    """

    snapshot_id: str
    table: str
    row_count: int
    committed_at_unix: float
    lineage: dict = field(default_factory=dict)
    parent_id: str | None = None
    op: str = "overwrite"
    state: list = field(default_factory=list)
    sequence: int = 0
    #: JSON-serialized StructType of the table AT this snapshot (None
    #: on legacy manifests). Appends may ADD columns — older data dirs
    #: then read back with nulls for the later-added columns, Iceberg's
    #: add-column schema evolution.
    schema_json: str | None = None
    #: Iceberg hidden partitioning: the partition spec this snapshot
    #: was written under — a list of {"transform", "source", "name"}
    #: (+"n" for bucket/truncate); "identity" entries are plain
    #: columns. Non-identity entries are HIDDEN: derived at write,
    #: dropped from reads, pruned from source-column predicates.
    partition_spec: list = field(default_factory=list)
    #: Iceberg's snapshot summary: what THIS commit physically did —
    #: added_files/added_bytes/added_rows for the new directory(ies),
    #: total_entries for the resulting state. Harvested from the
    #: just-written files' metadata (no data read); empty on legacy
    #: manifests.
    summary: dict = field(default_factory=dict)
    #: write-audit-publish: True while the snapshot sits in the log
    #: awaiting :meth:`SnapshotCatalog.publish` (pointer never flipped).
    #: Readers of the table don't see it; ``read_table(as_of=...)``
    #: does, so audits can validate it. Distinguishes a pending stage
    #: from a crash phantom (staged=False, also unpointered) — only the
    #: former survives :meth:`remove_orphan_files`.
    staged: bool = False


def _ancestors(leaf: str) -> list[str]:
    """The proper prefixes of a partition path: ``a=1/b=2/c=3`` →
    ``a=1``, ``a=1/b=2``."""
    parts = leaf.split(os.sep)
    return [os.sep.join(parts[:i]) for i in range(1, len(parts))]


class SnapshotCatalog:
    """Iceberg-table semantics on plain parquet: snapshot isolation,
    time travel, append, manifest-level dynamic partition overwrite,
    incremental scan, and snapshot expiry.

    The reference's store is overwrite-in-place SQLite
    (``src/datastore.py:148-212``); Iceberg (named by the north rule)
    adds a snapshot log — this class supplies those semantics without
    the (unavailable offline) ``iceberg-spark-runtime`` jar:

    * every commit writes into a fresh ``<table>/snap-<seq>-<id>/``
      directory and appends a manifest line to
      ``_manifests/<table>.log.jsonl``; the commit point is an atomic
      ``os.replace`` of the ``<table>.json`` pointer (readers never see
      a half-written snapshot);
    * a snapshot's ``state`` lists the directories (and partition-
      subpath exclusions) that make up the table — scan planning is
      manifest-driven, like Iceberg's manifest lists, so `overwrite`
      never deletes files and old snapshots stay readable (time travel)
      until :meth:`expire_snapshots`;
    * ``replace_partitions`` = Iceberg's dynamic overwrite: the new
      snapshot masks the replaced partition subtrees of earlier
      directories via ``exclude`` prefixes and adds the new directory —
      an idempotent, exactly-once-per-partition commit primitive for
      resume (SURVEY.md §7.4 risk 7);
    * ``read_table(..., since=snap)`` is the incremental (CDC-style)
      scan over directories added by append commits after ``snap``.

    Concurrency contract: all manifest-log mutations (commit appends,
    publish, and the read-filter-rewrite maintenance paths
    ``abandon_stage`` / ``expire_snapshots``) serialize on a per-table
    ``flock`` sidecar (:meth:`_log_lock`), so a commit can never be
    silently dropped by a concurrent rewrite on the same host.
    Multiple writers on DIFFERENT hosts against a shared filesystem
    are out of scope — that coordination belongs to a real catalog
    service (Hive/REST/Glue), which is exactly what Iceberg's atomic
    metadata swap delegates to.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self._manifest_dir = os.path.join(warehouse, "_manifests")
        os.makedirs(self._manifest_dir, exist_ok=True)

    # ---------------------------------------------------------------- paths
    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def exists(self, table: str) -> bool:
        """A table exists once it has a committed pointer manifest."""
        return self.snapshot(table) is not None

    @staticmethod
    def _dir_row_count(absdir: str) -> int:
        """Row count summed from parquet FOOTERS — metadata-only, no
        Spark job, no data read. The commit-time default when the
        caller didn't supply ``row_count``: the write just produced
        these footers, so re-reading the data to count it would plan a
        full scan of the new snapshot for a number the files already
        carry. An empty sink (no files) counts 0, matching the old
        schema-supplied read-back."""
        import pyarrow.parquet as pq

        n = 0
        for root, _d, fns in os.walk(absdir):
            for fn in fns:
                if fn.endswith(".parquet"):
                    n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
        return n

    def snapshot(self, table: str) -> Snapshot | None:
        mpath = os.path.join(self._manifest_dir, f"{table.replace('/', '__')}.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return Snapshot(**json.load(f))

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_by: str,
        n_buckets: int,
        sort_by: str | None = None,
        mode: str = "overwrite",
    ) -> DataFrame:
        """Bucketed table for co-located joins — the Iceberg
        ``bucket(N, col)`` partition-transform analog. Two tables
        bucketed on the same key and bucket count join with NO shuffle
        Exchange on either side (asserted in tests/test_plans.py);
        at 100 TB that turns every repeated fact⋈fact join on the
        bucket key into a local sort-merge. Lives in the Spark session
        catalog (``bucketBy`` requires ``saveAsTable``), unlike the
        path-based snapshot tables."""
        if mode == "overwrite":
            # a managed-table location can survive a crashed/foreign
            # session whose in-memory catalog entry is gone —
            # saveAsTable then fails LOCATION_ALREADY_EXISTS
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            if "." in table:
                db, tbl = table.rsplit(".", 1)
            else:
                db, tbl = self.spark.catalog.currentDatabase(), table
            wh = self.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            # managed-table layout: <wh>/<tbl> for default db, else
            # <wh>/<db>.db/<tbl>
            loc = (
                os.path.join(wh, tbl.lower())
                if db == "default"
                else os.path.join(wh, f"{db.lower()}.db", tbl.lower())
            )
            if os.path.isdir(loc):
                # never rmtree a path inside this catalog's warehouse:
                # if the session warehouse dir coincides with (or nests
                # under) the snapshot-catalog root, <wh>/<tbl> can be a
                # PATH-BASED table's data dir — deleting it would destroy
                # an unrelated committed table. Abort loudly instead of
                # silently eating data.
                wh_root = os.path.realpath(self.warehouse)
                target = os.path.realpath(loc)
                if os.path.commonpath([target, wh_root]) == wh_root:
                    raise ValueError(
                        f"refusing to clear managed-table location {loc!r}: it lies "
                        f"inside the snapshot-catalog warehouse {self.warehouse!r}; "
                        "configure a distinct spark.sql.warehouse.dir for bucketed tables"
                    )
                import shutil

                shutil.rmtree(loc)
        writer = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
        writer = writer.sortBy(sort_by or bucket_by)
        writer.saveAsTable(table)
        return self.spark.table(table)

    def tables(self) -> list[str]:
        """Committed table names (those with a pointer manifest)."""
        return sorted(
            fn[:-5].replace("__", "/")
            for fn in os.listdir(self._manifest_dir)
            if fn.endswith(".json") and not fn.endswith(".log.jsonl")
        )

    # ------------------------------------------------------------ manifests
    def _log_path(self, table: str) -> str:
        return os.path.join(self._manifest_dir, f"{table.replace('/', '__')}.log.jsonl")

    @contextlib.contextmanager
    def _log_lock(self, table: str):
        """Exclusive per-table advisory lock (flock on a sidecar file)
        held across every manifest-log mutation. The append paths
        (write_table, publish) are single-file-atomic on their own, but
        the maintenance rewrites (abandon_stage, expire_snapshots) are
        read-filter-rewrite: an append landing inside that window would
        be silently dropped by the os.replace. The lock serializes
        appends against rewrites within this host — the same guarantee
        Iceberg gets from its atomic catalog swap. Cross-host writers
        need an external catalog lock; flock does not travel over NFS
        reliably, and multi-writer-multi-host is out of scope for this
        parquet shim (documented on the class)."""
        path = self._log_path(table) + ".lock"
        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def history(self, table: str) -> list[Snapshot]:
        """All committed snapshots, oldest first — the parent chain
        walked back from the committed pointer. Torn log lines are
        skipped; so is any parseable-but-uncommitted line: write_table
        appends to the log before the atomic pointer flip, so a crash
        in that window leaves a phantom entry. Chain-walking (not
        tail-truncation) excludes it permanently — the next successful
        commit parents onto the real pointer, so the phantom is never
        any committed snapshot's ancestor, even once it sits in the
        middle of the log."""
        out = self._log_entries(table)
        if not out:
            return out
        pointer = self.snapshot(table)
        if pointer is None:
            return []  # log lines exist but nothing was ever committed
        by_id = {s.snapshot_id: s for s in out}
        if pointer.snapshot_id not in by_id:
            return out  # pointer not in log (legacy/rebuilt log) — keep all
        chain: list[Snapshot] = []
        seen: set[str] = set()
        cur: str | None = pointer.snapshot_id
        while cur is not None and cur in by_id and cur not in seen:
            seen.add(cur)
            chain.append(by_id[cur])
            cur = by_id[cur].parent_id
        chain.reverse()
        return chain

    # ---------------------------------------------------------------- tags
    #: tag names must be unambiguous against every other as_of form:
    #: start with a letter (never parses as a time), not id-shaped
    _TAG_SHAPE = re.compile(r"^[A-Za-z][A-Za-z0-9_.\-]{0,63}$")

    def _refs_path(self, table: str) -> str:
        # deliberately NOT "*.json": a table literally named "t.refs"
        # has pointer manifest "t.refs.json", which a ".refs.json"
        # suffix for table "t" would clobber. Extensionless "<t>.refs"
        # can never equal a pointer ("*.json"), a log ("*.log.jsonl"),
        # or a lock ("*.lock") of any table name.
        return os.path.join(self._manifest_dir, f"{table.replace('/', '__')}.refs")

    def _load_refs(self, table: str) -> dict:
        p = self._refs_path(table)
        if not os.path.exists(p):
            return {"tags": {}, "branches": {}}
        with open(p) as f:
            refs = json.load(f)
        refs.setdefault("tags", {})
        refs.setdefault("branches", {})
        return refs

    def _save_refs(self, table: str, refs: dict) -> None:
        p = self._refs_path(table)
        tmp = f"{p}.tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=2)
        os.replace(tmp, p)

    def tags(self, table: str) -> dict[str, str]:
        """Named immutable refs: tag name → snapshot id (Iceberg tags)."""
        return self._load_refs(table)["tags"]

    def branches(self, table: str) -> dict[str, str]:
        """Named MOVABLE refs: branch name → head snapshot id. A
        branch is an independent commit lineage over the same shared
        log — `write_table(..., branch=name)` advances it without
        touching the main pointer (Iceberg branches; the multi-commit
        generalization of write-audit-publish staging)."""
        return self._load_refs(table)["branches"]

    def _check_ref_name(self, table: str, name: str) -> None:
        if not self._TAG_SHAPE.match(name) or self._ID_SHAPE.match(name):
            raise ValueError(
                f"invalid ref name {name!r}: must start with a letter "
                "(so it can never be mistaken for a snapshot id or a "
                "timestamp) and be <= 64 chars of [A-Za-z0-9_.-]"
            )
        refs = self._load_refs(table)
        if name in refs["tags"] or name in refs["branches"]:
            raise ValueError(
                f"ref {name!r} already exists on table {table!r} "
                "(tags and branches share one namespace)"
            )

    def create_tag(self, table: str, name: str, as_of=None) -> Snapshot:
        """Iceberg's ``create_tag``: a named, immutable pointer to a
        committed snapshot (default: the current one). ``read_table
        (as_of=<name>)`` resolves it, and the tagged snapshot's log
        line and data directories survive :meth:`expire_snapshots` and
        :meth:`remove_orphan_files` until :meth:`remove_tag` — tags
        are retention anchors (audit states, training-data cuts).
        Staged (unpublished) snapshots are not taggable."""
        self._check_ref_name(table, name)
        snap = self._resolve(table, as_of)
        if snap is None:
            raise LookupError(f"no committed table {table!r}")
        if snap.staged:
            raise ValueError(
                f"snapshot {snap.snapshot_id!r} is staged (unpublished); "
                "publish it before tagging"
            )
        with self._log_lock(table):
            refs = self._load_refs(table)
            if name in refs["tags"] or name in refs["branches"]:
                raise ValueError(f"ref {name!r} already exists on table {table!r}")
            refs["tags"][name] = snap.snapshot_id
            self._save_refs(table, refs)
        return snap

    def remove_tag(self, table: str, name: str) -> str:
        """Drop a tag; its snapshot becomes expirable/collectable
        again. Returns the snapshot id it pointed at."""
        with self._log_lock(table):
            refs = self._load_refs(table)
            if name not in refs["tags"]:
                raise LookupError(f"no tag {name!r} on table {table!r}")
            sid = refs["tags"].pop(name)
            self._save_refs(table, refs)
        return sid

    # ------------------------------------------------------------- branches
    def create_branch(self, table: str, name: str, as_of=None) -> Snapshot:
        """Iceberg's ``create_branch``: a named MOVABLE pointer,
        starting at a committed snapshot (default: the current one).
        ``write_table(..., branch=name)`` then commits onto the branch
        — the shared log gains the snapshot line, the branch head
        moves, the main pointer never does — until
        :meth:`fast_forward` publishes the branch to main. The
        multi-commit generalization of write-audit-publish: stage a
        whole SEQUENCE of commits, audit the branch by name
        (``read_table(as_of=name)``), then fast-forward or
        :meth:`remove_branch`. Branch heads are retention anchors
        exactly like tags."""
        self._check_ref_name(table, name)
        snap = self._resolve(table, as_of)
        if snap is None:
            raise LookupError(f"no committed table {table!r}")
        if snap.staged:
            raise ValueError("cannot branch from a staged snapshot; publish it first")
        with self._log_lock(table):
            refs = self._load_refs(table)
            if name in refs["tags"] or name in refs["branches"]:
                raise ValueError(f"ref {name!r} already exists on table {table!r}")
            refs["branches"][name] = snap.snapshot_id
            self._save_refs(table, refs)
        return snap

    def remove_branch(self, table: str, name: str) -> str:
        """Drop a branch ref; its unpublished commits become orphan
        candidates. Returns the head snapshot id."""
        with self._log_lock(table):
            refs = self._load_refs(table)
            if name not in refs["branches"]:
                raise LookupError(f"no branch {name!r} on table {table!r}")
            sid = refs["branches"].pop(name)
            self._save_refs(table, refs)
        return sid

    def fast_forward(self, table: str, branch: str) -> Snapshot:
        """Iceberg's ``fast_forward('main', branch)``: atomically move
        the MAIN pointer to the branch head, provided main is an
        ancestor of it (the branch strictly extends main — nothing on
        main would be abandoned). A diverged branch (main advanced
        since it was cut) is rejected; rebase by re-branching from the
        new main. The branch ref survives, now equal to main."""
        with self._log_lock(table):
            # ancestry check and flip under one lock: a commit landing
            # on main between the check and the flip would otherwise be
            # silently clobbered by a now-stale fast-forward
            head_id = self.branches(table).get(branch)
            if head_id is None:
                raise LookupError(f"no branch {branch!r} on table {table!r}")
            by_id = {s.snapshot_id: s for s in self._log_entries(table)}
            if head_id not in by_id:
                raise LookupError(
                    f"branch {branch!r} head {head_id!r} is gone from the log"
                )
            cur = self.snapshot(table)
            node, seen = head_id, set()
            while node is not None and node in by_id and node not in seen:
                if cur is None or node == cur.snapshot_id:
                    self._flip_pointer(table, by_id[head_id])
                    return by_id[head_id]
                seen.add(node)
                node = by_id[node].parent_id
        raise ValueError(
            f"branch {branch!r} does not descend from the main pointer "
            f"({cur.snapshot_id if cur else None!r}) — it diverged (or its "
            "ancestry chain was expired); re-branch from the current main"
        )

    def _ref_pinned_snapshots(self, table: str) -> list[Snapshot]:
        """Snapshots pinned by tags or branch heads — looked up in the
        full log, not just the pointer chain, so refs keep protecting
        their snapshots even after a rollback strands them on a dead
        branch."""
        refs = self._load_refs(table)
        ids = set(refs["tags"].values()) | set(refs["branches"].values())
        return [s for s in self._log_entries(table) if s.snapshot_id in ids]

    def _resolve(self, table: str, as_of=None) -> Snapshot | None:
        """``as_of`` accepts a TAG or BRANCH name (tried first), a snapshot id,
        or a point in time — Iceberg's ``FOR SYSTEM_TIME AS OF`` — as a
        datetime, an epoch float/int, or an ISO-8601 string: the last
        committed snapshot at or before that instant. Id-SHAPED strings
        (16 hex chars) are never re-interpreted as times — an expired or
        foreign id must raise, not silently resolve to some snapshot.
        Naive datetimes / ISO strings are read as UTC (host-TZ-
        independent, like a session set to UTC)."""
        if as_of is None:
            return self.snapshot(table)
        if isinstance(as_of, str):
            refs = self._load_refs(table)
            named = refs["tags"].get(as_of) or refs["branches"].get(as_of)
            if named is not None:
                for s in self._log_entries(table):
                    if s.snapshot_id == named:
                        return s
                raise LookupError(
                    f"ref {as_of!r} points at snapshot {named!r} which is "
                    f"gone from table {table!r}'s log (expired before the "
                    "ref existed?)"
                )
        hist = self.history(table)
        if isinstance(as_of, str):
            for s in hist:
                if s.snapshot_id == as_of:
                    return s
            # WAP: a staged (unpointered) snapshot is addressable by id
            # so the audit step can read it; a REF-PINNED id (some tag
            # or branch points at it) is addressable even off the
            # committed chain — the ref is what keeps its log line and
            # data alive through expiry/rollback, so reading it by
            # either name or id must work (an incremental consumer
            # holds the id). Crash phantoms (staged=False, unpointered,
            # unreffed) stay unreachable. ``refs`` was loaded once by
            # the named-ref branch above.
            pinned = set(refs["tags"].values()) | set(refs["branches"].values())
            for s in self._log_entries(table):
                if s.snapshot_id == as_of and (s.staged or as_of in pinned):
                    return s
        t = self._as_epoch(as_of)
        if t is not None:
            found = self._snapshot_at(hist, t)
            if found is not None:
                return found
            raise LookupError(
                f"no snapshot of table {table!r} at or before {as_of!r} "
                "(before the first commit, or expired)"
            )
        raise LookupError(f"no snapshot {as_of!r} for table {table!r} (expired?)")

    @staticmethod
    def _snapshot_at(hist: list[Snapshot], t: float) -> Snapshot | None:
        """Last committed snapshot at or before epoch ``t`` (``hist`` is
        oldest→newest); None when ``t`` predates the first commit."""
        return next((s for s in reversed(hist) if s.committed_at_unix <= t), None)

    #: snapshot ids are uuid4().hex[:16] — a string of this shape is an
    #: id, NEVER a timestamp (≈1 in 750 ids is float()-parsable, e.g.
    #: all-digits or 12e345...; treating one as an epoch would silently
    #: resolve an expired id to the wrong snapshot)
    _ID_SHAPE = re.compile(r"^[0-9a-f]{16}$")

    @classmethod
    def _as_epoch(cls, v) -> float | None:
        """Epoch seconds from a datetime / number / ISO-8601 or numeric
        string; None when ``v`` doesn't look like a time at all (or is
        id-shaped). Naive datetimes and ISO strings are taken as UTC so
        resolution does not depend on the querying host's timezone."""
        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            return v.timestamp()
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            # inf/nan are not instants; returning None routes them to
            # the same LookupError as any other garbage value instead
            # of silently resolving 'inf' to the newest snapshot
            return float(v) if math.isfinite(v) else None
        if isinstance(v, str):
            if cls._ID_SHAPE.match(v):
                return None
            try:
                f = float(v)
                return f if math.isfinite(f) else None
            except ValueError:
                pass
            try:
                return cls._as_epoch(datetime.datetime.fromisoformat(v))
            except ValueError:
                return None
        return None

    # ------------------------------------------------------ schema evolution
    @staticmethod
    def _evolve_schema(prev: Snapshot | None, df_schema, mode: str):
        """The table schema AT the new snapshot. ``overwrite`` resets it
        to the incoming frame's schema; ``append``/``replace_partitions``
        may ADD columns (Iceberg add-column evolution — the only change
        a parquet shim can honor losslessly: older files read back with
        nulls for the new columns). Shared columns must keep their type;
        dropping or retyping a column requires an overwrite."""
        from pyspark.sql.types import StructField, StructType

        if mode == "overwrite" or prev is None or not prev.schema_json:
            return df_schema
        prev_schema = StructType.fromJson(json.loads(prev.schema_json))
        prev_by_name = {f.name: f for f in prev_schema.fields}
        new_by_name = {f.name: f for f in df_schema.fields}
        missing = [n for n in prev_by_name if n not in new_by_name]
        if missing:
            raise ValueError(
                f"{mode} frame lacks table columns {missing}; dropping a "
                "column requires mode='overwrite'"
            )
        clashes = [
            n for n, f in new_by_name.items()
            if n in prev_by_name and f.dataType != prev_by_name[n].dataType
        ]
        if clashes:
            raise ValueError(
                f"{mode} changes the type of {clashes}; retyping a column "
                "requires mode='overwrite'"
            )
        added = [f for f in df_schema.fields if f.name not in prev_by_name]
        # evolved columns are nullable by construction: pre-evolution
        # files have no values for them
        return StructType(
            list(prev_schema.fields)
            + [StructField(f.name, f.dataType, nullable=True) for f in added]
        )

    # ------------------------------------------------- hidden partitioning
    _TRANSFORM_RE = re.compile(
        r"^(day|month|hour|bucket|truncate)\((?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\)$"
    )

    @classmethod
    def _parse_partition_spec(cls, partition_by):
        """Iceberg hidden partitioning: ``partition_by`` may mix plain
        columns with TRANSFORMS — ``day(ts)``, ``month(ts)``,
        ``hour(ts)``, ``bucket(N, col)``, ``truncate(N, col)``. Returns
        (physical partition column names, full spec); transforms get a
        derived hidden column (``ts_day``, ``conv_id_bucket16``, ...)
        that writers compute and readers never see."""
        if not partition_by:
            return partition_by, []
        names, spec = [], []
        for p in partition_by:
            if "(" not in p:
                names.append(p)
                spec.append({"transform": "identity", "source": p, "name": p})
                continue
            m = cls._TRANSFORM_RE.match(p.replace(" ", ""))
            if not m:
                raise ValueError(
                    f"unparseable partition transform {p!r}: expected "
                    "day(col) / month(col) / hour(col) / bucket(N,col) / "
                    "truncate(N,col)"
                )
            t, n, src = m.groups()
            if t in ("bucket", "truncate") and not n:
                raise ValueError(f"{t} transform requires N: {t}(N,{src})")
            if t in ("day", "month", "hour") and n:
                raise ValueError(f"{t} transform takes no N argument: {p!r}")
            name = f"{src}_{t}{n or ''}" if t in ("bucket", "truncate") else f"{src}_{t}"
            names.append(name)
            entry = {"transform": t, "source": src, "name": name}
            if n:
                entry["n"] = int(n)
            spec.append(entry)
        return names, spec

    @staticmethod
    def _transform_col(entry: dict, source_col=None):
        """The hidden column's value as an expression over the source
        column (or an arbitrary expression, for predicate derivation)."""
        from pyspark.sql import functions as F

        c = F.col(entry["source"]) if source_col is None else source_col
        t = entry["transform"]
        if t == "identity":
            return c
        if t == "day":
            return F.to_date(c)
        if t == "month":
            return F.date_format(c, "yyyy-MM")
        if t == "hour":
            return F.date_format(c, "yyyy-MM-dd-HH")
        if t == "bucket":
            return F.pmod(F.xxhash64(c.cast("string")), F.lit(entry["n"])).cast("int")
        return F.substring(c.cast("string"), 1, entry["n"])  # truncate

    @staticmethod
    def _hidden_field(entry: dict):
        from pyspark.sql.types import DateType, IntegerType, StringType, StructField

        t = entry["transform"]
        dt = DateType() if t == "day" else IntegerType() if t == "bucket" else StringType()
        return StructField(entry["name"], dt, True)

    @staticmethod
    def _hidden_of(spec: list) -> list[dict]:
        return [s for s in (spec or []) if s["transform"] != "identity"]

    @classmethod
    def _spec_strings(cls, spec: list) -> list[str]:
        """Round-trip a recorded spec back to partition_by strings."""
        out = []
        for s in spec:
            if s["transform"] == "identity":
                out.append(s["source"])
            elif "n" in s:
                out.append(f"{s['transform']}({s['n']},{s['source']})")
            else:
                out.append(f"{s['transform']}({s['source']})")
        return out

    # ---------------------------------------------------------------- write
    def _partition_leaves(self, absdir: str) -> list[str]:
        """Relative ``key=value[/key=value...]`` leaf-partition paths
        under a freshly written snapshot directory."""
        leaves: set[str] = set()
        for root, _dirs, files in os.walk(absdir):
            if any(f.endswith(".parquet") for f in files):
                rel = os.path.relpath(root, absdir)
                if rel != "." and all("=" in part for part in rel.split(os.sep)):
                    leaves.add(rel)
        return sorted(leaves)

    def write_table(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        lineage: dict | None = None,
        row_count=None,
        replace_leaves: list[str] | None = None,
        stats_cols: list[str] | None = None,
        sort_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 4,
        staged: bool = False,
        branch: str | None = None,
        distribution: str | None = None,
        expected_parent: str | None = None,
    ) -> Snapshot:
        """Commit one snapshot. ``staged=True`` is Iceberg's
        write-audit-publish: the data and the manifest log line are
        written but the pointer is NOT flipped — readers keep seeing
        the parent state while an audit validates the staged snapshot
        via ``read_table(as_of=staged.snapshot_id)``; :meth:`publish`
        makes it live, an abandoned stage is swept by
        :meth:`remove_orphan_files(sweep_staged=True)`.

        ``expected_parent`` is Iceberg's validate-from-snapshot
        (serializable isolation for state-DEPENDENT writes): the commit
        succeeds only if, at lock time, the table's head is exactly
        that snapshot id — any concurrent advance raises
        :class:`CommitConflict` instead of the fast-append REBASE an
        unconditional append would get. Pass the snapshot id the
        write's content was computed FROM whenever that content stops
        being a pure delta under a different parent (incremental view
        deltas, read-modify-write consolidations); leave None for
        order-independent appends, which keep the cheap rebase.

        ``stats_cols`` opts the commit into
        manifest-level file statistics: per-file min/max for those
        columns, harvested from the parquet FOOTERS the write already
        produced (metadata-only — no data re-read), stored in the
        manifest entry. ``read_table(predicate=...)`` then skips whole
        files at scan-planning time — Iceberg's min/max file skipping,
        the planning-side pruning that matters when a 100 TB table is
        millions of files (parquet row-group pruning only helps after a
        file is already opened).

        ``sort_by`` is the table's write sort order with a GLOBAL sort
        distribution (Iceberg ``write.sort-order`` +
        ``write.distribution-mode=range``): one range shuffle clusters
        the sort-column domain across tasks, then rows sort within each
        task — so each file covers a tight, near-disjoint range instead
        of a random slice of the whole domain. Point/range predicates
        on those columns then prune most files; a within-task sort
        alone would leave every file spanning everything and skipping
        would never fire. Pair with ``stats_cols`` on the same columns.
        Skip it on writes already clustered by a different key (the
        staging fan-out clusters by (route, day) to bound file counts —
        a ts range shuffle would undo that).

        ``bloom_cols`` additionally builds one BLOOM FILTER per (file,
        column) — the Iceberg-Puffin / Delta-bloom-index analog for
        EQUALITY probes on high-entropy keys (``conv_id``), where
        min/max is useless: a hash-distributed key's per-file range
        spans the whole domain, so range stats prune nothing, but each
        file only *contains* ~rows/n_files distinct keys and a bloom
        proves absence. Bits are set AND packed into the b64 bitmap by
        one distributed pass (``xxhash64(key, seed_i) mod m``, k seeds,
        one groupBy(file), Arrow-batched pack — the driver collects one
        bounded string per (file, col)), stored in a per-snapshot SIDECAR
        (``_bloom.json`` inside the data dir — manifests stay small, as
        with Puffin files). ``read_table(eq=(col, value))`` then skips
        every file whose bloom misses any probe bit. Sizing: default
        8192 bits / 4 hashes ≈ 2% false-positive at 1k distinct keys
        per file; false positives only cost an un-skipped file, never
        correctness.

        ``distribution`` is Iceberg's ``write.distribution-mode`` — the
        small-file guard that matters most at scale. Without it, every
        task holding rows of a partition writes its own file there:
        T tasks × P partitions = T×P files per commit, the classic
        small-file explosion. ``"hash"`` shuffles rows to their
        partition VALUE first (for hidden transforms, the derived
        expression), so each partition is written by one task — P
        files. ``"range"`` range-shuffles on the partition values,
        preserving value locality across tasks — use it when partitions
        are few but huge and one task per partition would bottleneck.
        ``None`` (default) writes with the incoming distribution, like
        ``write.distribution-mode=none`` — correct when the caller
        already clustered (the staging fan-out repartitions by
        (route, day) itself)."""
        if mode not in ("overwrite", "append", "replace_partitions"):
            raise ValueError(f"unknown mode {mode!r}")
        if distribution not in ("hash", "range", None):
            raise ValueError(
                f"distribution must be hash/range/None, got {distribution!r}"
            )
        if distribution and sort_by:
            raise ValueError(
                "distribution and sort_by are mutually exclusive: sort_by "
                "already imposes a range distribution on the sort columns"
            )
        if mode == "replace_partitions" and not partition_by:
            raise ValueError("replace_partitions requires partition_by")
        if replace_leaves and mode != "replace_partitions":
            raise ValueError("replace_leaves only applies to replace_partitions")
        if staged and branch:
            raise ValueError(
                "staged and branch are mutually exclusive (a branch IS the "
                "multi-commit staging mechanism; publish it via fast_forward)"
            )
        if expected_parent is not None and (staged or branch is not None):
            # the CAS only guards MAIN-pointer flips; silently accepting
            # it here would advertise a serializability the commit path
            # never checks
            raise ValueError(
                "expected_parent applies only to main-pointer commits: a "
                "staged write flips no pointer to validate, and a branch "
                "commit already CAS-checks the branch head"
            )
        if branch is not None:
            # commit onto the branch lineage: parent = branch head
            head = self.branches(table).get(branch)
            if head is None:
                raise LookupError(
                    f"no branch {branch!r} on table {table!r}; create_branch first"
                )
            prev = next(
                (s for s in self._log_entries(table) if s.snapshot_id == head), None
            )
            if prev is None:
                raise LookupError(
                    f"branch {branch!r} head {head!r} is gone from the log"
                )
        else:
            prev = self.snapshot(table)
        part_names, spec = self._parse_partition_spec(partition_by)
        hidden = self._hidden_of(spec)
        prev_spec = list(prev.partition_spec or []) if prev else []
        if prev is not None and mode != "overwrite" and self._hidden_of(prev_spec):
            if partition_by is None:
                # inherit the hidden spec: appends don't restate the
                # layout (Iceberg writers read it from table metadata)
                spec, part_names = prev_spec, [s["name"] for s in prev_spec]
                hidden = self._hidden_of(spec)
            elif spec != prev_spec:
                raise ValueError(
                    f"table {table!r} is hidden-partitioned by "
                    f"{self._spec_strings(prev_spec)}; append/replace must "
                    "match or omit partition_by (changing a hidden spec "
                    "requires mode='overwrite')"
                )
        if hidden:
            clash = [s["name"] for s in hidden if s["name"] in df.columns]
            if clash:
                raise ValueError(
                    f"hidden partition names collide with data columns: {clash}"
                )
        # the TABLE schema never includes hidden partition columns —
        # they are derived at write and dropped from reads
        table_schema = self._evolve_schema(prev, df.schema, mode)
        if hidden:
            df = df.withColumns(
                {s["name"]: self._transform_col(s) for s in hidden}
            )
        seq = (prev.sequence if prev else 0) + 1
        snap_id = uuid.uuid4().hex[:16]
        rel_dir = f"{table}/snap-{seq:05d}-{snap_id}"
        abs_dir = os.path.join(self.warehouse, rel_dir)

        if distribution:
            # after hidden derivation, so transforms distribute by the
            # DERIVED value (one task per ts_day, not per raw ts)
            if not part_names:
                raise ValueError(
                    "distribution requires a partitioned layout (pass "
                    "partition_by or append to a hidden-partitioned table)"
                )
            if distribution == "hash":
                df = df.repartition(*part_names)
            else:  # range
                df = df.repartitionByRange(*part_names)
        if sort_by:
            df = df.repartitionByRange(*sort_by).sortWithinPartitions(*sort_by)
        writer = df.write.mode("overwrite")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(abs_dir)

        if callable(row_count):
            row_count = int(row_count())
        if row_count is None:
            row_count = self._dir_row_count(abs_dir)

        # "seq" = the commit that ADDED this entry (carried forward
        # verbatim by later commits): equality deletes apply only to
        # data entries with a LOWER seq — Iceberg's sequence-number
        # rule. Legacy entries without it read as seq 0.
        new_entry = {"dir": rel_dir, "exclude": [], "seq": seq}
        if stats_cols:
            new_entry["files"] = self._file_stats(abs_dir, stats_cols)
        if bloom_cols:
            self._write_blooms(abs_dir, bloom_cols, bloom_bits, bloom_hashes)
            new_entry["bloom"] = {"m": bloom_bits, "k": bloom_hashes, "cols": list(bloom_cols)}
        if mode == "overwrite" or prev is None:
            state = [new_entry]
        elif mode == "append":
            state = list(prev.state) + [new_entry]
        else:  # replace_partitions: mask replaced subtrees in old dirs
            # replace_leaves extends the mask beyond what the new data
            # dir physically contains — a partition whose rows were ALL
            # deleted (e.g. by merge) writes no leaf dir, but its old
            # rows must still be masked out. Entries carry forward
            # VERBATIM except for the added mask: kind/on/seq (merge-
            # on-read delete markers + sequence numbers) and files/
            # bloom (skipping stats) must survive, and the mask never
            # applies to keys-only eq_deletes entries (they have no
            # partition subtrees; rebuilding them as data entries would
            # resurrect deleted rows AND read key files as rows).
            # A leaf joins an entry's mask only where that entry's dir
            # holds the subtree: masking a subtree an immutable entry
            # lacks changes no read, and per-group resume commits would
            # otherwise grow every manifest as groups² × routes.
            # One mask per replaced subtree: a leaf under a prefix that
            # is itself replaced (``group=1/route=x`` under ``group=1``)
            # masks nothing the prefix does not.
            replaced = set(self._partition_leaves(abs_dir)) | set(replace_leaves or [])
            replaced = {
                leaf for leaf in replaced
                if not any(anc in replaced for anc in _ancestors(leaf))
            }
            state = [
                e if e.get("kind")  # keys-only / DV sidecars: no subtrees
                else {**e, "exclude": sorted(set(e["exclude"]) | {
                    leaf for leaf in replaced
                    if os.path.isdir(os.path.join(self.warehouse, e["dir"], leaf))
                })}
                for e in prev.state
            ] + [new_entry]

        snap = Snapshot(
            snapshot_id=snap_id,
            table=table,
            row_count=row_count,
            committed_at_unix=time.time(),
            lineage=lineage or {},
            parent_id=prev.snapshot_id if prev else None,
            op=mode,
            state=state,
            sequence=seq,
            schema_json=json.dumps(table_schema.jsonValue()),
            partition_spec=spec,
            summary=self._dir_summary([abs_dir], row_count, len(state)),
            staged=staged,
        )
        return self._commit(table, snap, branch=branch, expected_parent=expected_parent)

    # --------------------------------------------------- multi-table commit
    @property
    def _txn_dir(self) -> str:
        p = os.path.join(self._manifest_dir, "_txn")
        os.makedirs(p, exist_ok=True)
        return p

    @contextlib.contextmanager
    def transaction(self):
        """Multi-table ATOMIC commit — the catalog-level transaction
        Iceberg defers to its catalog for. Stage one write per table
        inside the block; on clean exit every staged pointer flips
        together, on an exception nothing becomes visible and the
        stages are swept::

            with cat.transaction() as txn:
                txn.write_table(docs, "corpus", mode="append")
                txn.write_table(bands, "corpus_index_bands", mode="append")
                txn.write_table(fps, "corpus_index_docs", mode="append")

        Readers never observe a partial advance: writes stage as
        write-audit-publish snapshots (log line, no pointer), and the
        commit takes every table's lock, CAS-validates every parent,
        writes ONE transaction record (the commit point), then flips
        the pointers. A crash mid-flip is repaired by
        :meth:`recover_transactions` — run on entry of every
        transaction and by ``maintain`` — which replays the recorded
        flips idempotently. A concurrent single-table commit that
        lands between stage and commit fails the whole transaction
        with :class:`CommitConflict` (retry re-stages against the new
        state)."""
        self.recover_transactions()
        txn = CatalogTransaction(self)
        try:
            yield txn
        except BaseException:
            txn.abandon()
            raise
        txn.commit()

    def _commit_transaction(self, staged: dict) -> None:
        """All-or-nothing publish of one staged snapshot per table.
        Locks are taken in sorted table order (no deadlock between
        concurrent transactions); the transaction record write is the
        commit point — after it, :meth:`recover_transactions` will
        finish the flips even across a crash."""
        if not staged:
            return
        tables = sorted(staged)
        with contextlib.ExitStack() as stack:
            for t in tables:
                stack.enter_context(self._log_lock(t))
            for t in tables:
                snap = staged[t]
                cur = self.snapshot(t)
                cur_id = cur.snapshot_id if cur else None
                if cur_id != snap.parent_id:
                    raise CommitConflict(
                        f"table {t!r} advanced concurrently (pointer {cur_id!r}, "
                        f"transaction staged against {snap.parent_id!r}); the "
                        "whole transaction aborts — re-stage and retry"
                    )
            txn_id = uuid.uuid4().hex[:16]
            rec = {
                "txn_id": txn_id,
                "tables": {t: staged[t].snapshot_id for t in tables},
                "created_at_unix": time.time(),
            }
            path = os.path.join(self._txn_dir, f"{txn_id}.json")
            tmp = f"{path}.tmp"
            with open(tmp, "w") as f:
                json.dump(rec, f, indent=2)
            os.replace(tmp, path)  # ← the commit point
            now = time.time()
            for t in tables:
                snap = staged[t]
                snap.staged = False
                snap.committed_at_unix = now
                with open(self._log_path(t), "a") as f:
                    f.write(json.dumps(asdict(snap)) + "\n")
                self._flip_pointer(t, snap)
            os.remove(path)

    def recover_transactions(self) -> list[str]:
        """Finish (or confirm) every recorded-but-incomplete
        transaction: for each (table, snapshot) pair, if the pointer
        is neither AT the snapshot nor DESCENDED from it, replay the
        publish-flip. Idempotent; returns the recovered txn ids. A
        table that advanced DIVERGENTLY past an incomplete transaction
        (possible only if single-table commits ran between the crash
        and recovery) raises :class:`CommitConflict` for manual
        resolution rather than silently discarding either lineage."""
        d = self._txn_dir
        out: list[str] = []
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".json"):
                continue
            path = os.path.join(d, fn)
            with open(path) as f:
                rec = json.load(f)
            for t, sid in sorted(rec["tables"].items()):
                with self._log_lock(t):
                    cur = self.snapshot(t)
                    if cur is not None:
                        if cur.snapshot_id == sid:
                            continue
                        by_id = {
                            s.snapshot_id: s for s in self._log_entries(t)
                        }
                        node, seen = cur.snapshot_id, set()
                        descended = False
                        while node and node in by_id and node not in seen:
                            if node == sid:
                                descended = True
                                break
                            seen.add(node)
                            node = by_id[node].parent_id
                        if descended:
                            continue
                    entries = [
                        s for s in self._log_entries(t) if s.snapshot_id == sid
                    ]
                    if not entries:
                        raise LookupError(
                            f"transaction {rec['txn_id']} references snapshot "
                            f"{sid!r} of table {t!r} which is gone from the log"
                        )
                    snap = entries[-1]
                    cur_id = cur.snapshot_id if cur else None
                    if cur is not None and cur_id != snap.parent_id:
                        raise CommitConflict(
                            f"table {t!r} diverged past incomplete transaction "
                            f"{rec['txn_id']} (pointer {cur_id!r}, transaction "
                            f"snapshot {sid!r} parents {snap.parent_id!r}); "
                            "resolve manually (rollback the table or remove "
                            "the record)"
                        )
                    if snap.staged:
                        snap.staged = False
                        snap.committed_at_unix = time.time()
                        with open(self._log_path(t), "a") as f:
                            f.write(json.dumps(asdict(snap)) + "\n")
                    self._flip_pointer(t, snap)
            os.remove(path)
            out.append(rec["txn_id"])
        return out

    # ------------------------------------------------- schema evolution v2
    # Metadata-only column evolution (Iceberg ALTER TABLE semantics,
    # resolved like Delta column mapping): rename / drop / widen commit
    # a new snapshot whose entries carry a logical→physical ``colmap``
    # (renames) and logical→written-type ``casts`` (widens). No data
    # file rewrites — at 100 TB the alternative is a full-table
    # rewrite. Reads project each entry from its written layout back to
    # the snapshot's logical schema (:meth:`_entry_projection`); time
    # travel still reads old snapshots under their own schema; stats /
    # bloom skipping keeps firing through the name mapping; and
    # :meth:`compact` materializes the mapping away.

    #: integer/float widening promotions Iceberg allows (by Spark
    #: simpleString); decimal precision-up at equal scale is handled
    #: separately.
    _WIDEN_OK = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    def _evolve_guard(self, prev: Snapshot, col: str, verb: str) -> None:
        """Columns the metadata-only ops must not touch: partition-spec
        sources / names (the physical dir layout and transform hashing
        are keyed on them — evolve the spec with an overwrite first)
        and pending equality-delete keys (delete files store the key
        under its written name; compact() materializes them away)."""
        for s in prev.partition_spec or []:
            if col in (s.get("source"), s.get("name")):
                raise ValueError(
                    f"cannot {verb} {col!r}: it is part of the partition spec "
                    f"({self._spec_strings(prev.partition_spec)}); rewrite the "
                    "spec with mode='overwrite' first"
                )
        for e in prev.state:
            if e.get("kind") == "eq_deletes" and col in e.get("on", []):
                raise ValueError(
                    f"cannot {verb} {col!r}: pending merge-on-read equality "
                    "deletes key on it; run compact() to materialize them first"
                )

    def update_partition_spec(self, table: str, partition_by) -> Snapshot:
        """Iceberg's PARTITION SPEC EVOLUTION — metadata-only: future
        writes land under the new layout (appends inherit it without
        restating ``partition_by``); existing entries keep the layout
        they were written with, and reads plan each entry under its
        own. Source-column pruning against the new transforms stays
        best-effort over old entries (their derived values read null
        and those rows are KEPT — same caller-refilters contract as
        everywhere else). Changing a hidden spec on an APPEND is still
        rejected; evolution happens through this explicit commit, as
        in Iceberg."""
        from pyspark.sql.types import StructType

        prev = self.snapshot(table)
        if prev is None or not prev.schema_json:
            raise LookupError(f"no committed snapshot table {table!r}")
        _names, spec = self._parse_partition_spec(
            list(partition_by) if partition_by else None
        )
        if spec == list(prev.partition_spec or []):
            raise ValueError(
                f"table {table!r} already has partition spec "
                f"{self._spec_strings(spec)}"
            )
        schema = StructType.fromJson(json.loads(prev.schema_json))
        fields = set(schema.fieldNames())
        missing = [s["source"] for s in spec if s["source"] not in fields]
        if missing:
            raise ValueError(
                f"partition spec sources missing from table schema: {missing}"
            )
        clash = [
            s["name"] for s in self._hidden_of(spec) if s["name"] in fields
        ]
        if clash:
            raise ValueError(
                f"hidden partition names collide with data columns: {clash}"
            )
        return self._evolve_commit(
            table, "update-spec", prev, schema, list(prev.state),
            {"from": self._spec_strings(prev.partition_spec or []),
             "to": self._spec_strings(spec)},
            spec=spec,
        )

    def _evolve_commit(
        self, table: str, op: str, prev: Snapshot, schema, state: list,
        detail: dict, spec: list | None = None,
    ) -> Snapshot:
        snap = Snapshot(
            snapshot_id=uuid.uuid4().hex[:16],
            table=table,
            row_count=0,
            committed_at_unix=time.time(),
            lineage={"stage": op, **detail},
            parent_id=prev.snapshot_id,
            op=op,
            state=state,
            sequence=prev.sequence + 1,
            schema_json=json.dumps(schema.jsonValue()),
            partition_spec=(
                spec if spec is not None else list(prev.partition_spec or [])
            ),
            summary={"op": op, **detail, "added-records": 0,
                     "total-manifest-entries": len(state)},
        )
        return self._commit(table, snap)

    def _evolved_prev(self, table: str, col: str, verb: str):
        from pyspark.sql.types import StructType

        prev = self.snapshot(table)
        if prev is None or not prev.schema_json:
            raise LookupError(f"no committed snapshot table {table!r}")
        schema = StructType.fromJson(json.loads(prev.schema_json))
        if col not in schema.fieldNames():
            raise ValueError(f"no column {col!r} in table {table!r}")
        self._evolve_guard(prev, col, verb)
        return prev, schema

    def add_column(self, table: str, name: str, dtype) -> Snapshot:
        """Iceberg's ``ALTER TABLE ... ADD COLUMN`` — metadata-only:
        the new nullable column joins the schema NOW; every existing
        file reads back null for it, and later writes may populate it.
        (Appends can also add columns implicitly — this is the
        explicit, write-free form.) The name is tombstone-mapped in
        existing entries exactly like :meth:`drop_column`'s re-add
        path, so a physical column of the same name that once existed
        in old files can never resurrect through the new logical one."""
        from pyspark.sql.types import StructField, StructType

        if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", name):
            raise ValueError(f"invalid column name {name!r}")
        if isinstance(dtype, str):
            dtype = StructType.fromDDL(f"x {dtype}").fields[0].dataType
        prev = self.snapshot(table)
        if prev is None or not prev.schema_json:
            raise LookupError(f"no committed snapshot table {table!r}")
        schema = StructType.fromJson(json.loads(prev.schema_json))
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists in table {table!r}")
        hidden_names = {s["name"] for s in self._hidden_of(prev.partition_spec or [])}
        if name in hidden_names:
            raise ValueError(f"{name!r} collides with a hidden partition column")
        new_schema = StructType(
            list(schema.fields) + [StructField(name, dtype, nullable=True)]
        )
        tomb = f"__added_{name}_{prev.sequence + 1}"
        state = []
        for e in prev.state:
            if e.get("kind"):
                state.append(e)  # delete sidecars carry no data columns
                continue
            colmap = dict(e.get("colmap") or {})
            colmap[name] = tomb
            state.append({**{k: v for k, v in e.items() if k != "colmap"},
                          "colmap": colmap})
        return self._evolve_commit(
            table, "add-column", prev, new_schema, state,
            {"column": name, "type": dtype.simpleString()},
        )

    def rename_column(self, table: str, old: str, new: str) -> Snapshot:
        """Iceberg's ``ALTER TABLE ... RENAME COLUMN`` — metadata-only:
        the committed snapshot's schema carries the new name, and every
        existing manifest entry records ``colmap[new] = <its written
        name>`` so its files read back through the rename without a
        rewrite. Appends after the rename write (and are pruned /
        DML'd under) the new name; time travel before it still shows
        the old one."""
        from pyspark.sql.types import StructField, StructType

        if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", new):
            raise ValueError(f"invalid column name {new!r}")
        prev, schema = self._evolved_prev(table, old, "rename")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists in table {table!r}")
        hidden_names = {s["name"] for s in self._hidden_of(prev.partition_spec or [])}
        if new in hidden_names:
            raise ValueError(f"{new!r} collides with a hidden partition column")
        new_schema = StructType([
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old else f
            for f in schema.fields
        ])
        state = []
        for e in prev.state:
            if e.get("kind"):
                state.append(e)  # guarded: old is never an eq key; DVs are positional
                continue
            colmap = dict(e.get("colmap") or {})
            phys = colmap.pop(old, old)
            if phys != new:
                colmap[new] = phys
            casts = dict(e.get("casts") or {})
            if old in casts:
                casts[new] = casts.pop(old)
            ne = {k: v for k, v in e.items() if k not in ("colmap", "casts")}
            if colmap:
                ne["colmap"] = colmap
            if casts:
                ne["casts"] = casts
            state.append(ne)
        return self._evolve_commit(
            table, "rename-column", prev, new_schema, state,
            {"from": old, "to": new},
        )

    def drop_column(self, table: str, col: str) -> Snapshot:
        """Iceberg's ``ALTER TABLE ... DROP COLUMN`` — metadata-only:
        the column leaves the snapshot schema (schema-driven reads
        simply stop scanning it; the bytes stay until files naturally
        rewrite). Every entry's ``colmap`` gets a tombstone mapping so
        a LATER re-add of the same name reads nulls from pre-drop files
        instead of resurrecting the dropped values (the field-id
        discipline Iceberg gets from its format)."""
        prev, schema = self._evolved_prev(table, col, "drop")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop a table's only column")
        from pyspark.sql.types import StructType

        new_schema = StructType([f for f in schema.fields if f.name != col])
        tomb = f"__dropped_{col}_{prev.sequence + 1}"
        state = []
        for e in prev.state:
            if e.get("kind"):
                state.append(e)
                continue
            colmap = dict(e.get("colmap") or {})
            colmap.pop(col, None)
            colmap[col] = tomb
            casts = dict(e.get("casts") or {})
            casts.pop(col, None)
            ne = {k: v for k, v in e.items() if k not in ("colmap", "casts")}
            ne["colmap"] = colmap
            if casts:
                ne["casts"] = casts
            state.append(ne)
        return self._evolve_commit(
            table, "drop-column", prev, new_schema, state, {"column": col}
        )

    def widen_column(self, table: str, col: str, new_type) -> Snapshot:
        """Iceberg's type-promotion evolution — metadata-only widen of
        a column (tinyint→…→bigint, float→double, decimal precision-up
        at equal scale). Entries record the type the column was WRITTEN
        with (``casts[col]``); reads scan old files under that type and
        cast up to the logical one. Narrowing — a lossy rewrite — is
        rejected."""
        from pyspark.sql.types import DecimalType, StructField, StructType

        if isinstance(new_type, str):
            new_type = StructType.fromDDL(f"x {new_type}").fields[0].dataType
        prev, schema = self._evolved_prev(table, col, "widen")
        old_f = schema[col]
        old_t, new_t = old_f.dataType, new_type
        ok = new_t.simpleString() in self._WIDEN_OK.get(old_t.simpleString(), set())
        if (
            not ok
            and isinstance(old_t, DecimalType) and isinstance(new_t, DecimalType)
            and new_t.scale == old_t.scale and new_t.precision > old_t.precision
        ):
            ok = True
        if not ok:
            raise ValueError(
                f"cannot widen {col!r} from {old_t.simpleString()} to "
                f"{new_t.simpleString()}: only lossless promotions "
                "(tinyint→…→bigint, float→double, decimal precision-up at "
                "equal scale) are metadata-only; anything else is a rewrite"
            )
        new_schema = StructType([
            StructField(col, new_t, f.nullable, f.metadata) if f.name == col else f
            for f in schema.fields
        ])
        state = []
        for e in prev.state:
            if e.get("kind"):
                state.append(e)
                continue
            casts = dict(e.get("casts") or {})
            # first widen records the written type; a second widen
            # keeps it (the files still hold the ORIGINAL type)
            casts.setdefault(col, old_t.jsonValue())
            state.append({**{k: v for k, v in e.items() if k != "casts"},
                          "casts": casts})
        return self._evolve_commit(
            table, "widen-column", prev, new_schema, state,
            {"column": col, "from": old_t.simpleString(),
             "to": new_t.simpleString()},
        )

    def _commit(
        self,
        table: str,
        snap: Snapshot,
        branch: str | None = None,
        expected_parent: str | None = None,
    ) -> Snapshot:
        """THE commit protocol, shared by every commit path
        (write_table, publish, merge-on-read, DML, branch writes):
        validate, append the snapshot's log line, then atomically flip
        the pointer — the pointer replace is the commit point. A staged
        (write-audit-publish) snapshot gets its log line but no flip;
        a BRANCH commit moves the branch ref instead of the main
        pointer, and refuses if the branch advanced concurrently (the
        ref-swap analog of publish's stale-stage check). The lock
        keeps the append from racing a maintenance rewrite's
        read-filter-replace.

        Main-pointer commits are OPTIMISTICALLY CONCURRENT (Iceberg's
        commit model): every snapshot is computed against the parent
        its writer read, and this method re-checks — inside the lock —
        that the pointer still IS that parent. When it is not (a
        concurrent writer landed first):

        - an ``append`` whose table metadata (schema + partition spec)
          matches the new head is REBASED onto it automatically —
          Iceberg's fast-append retry / ``cherry_pick``: the new data
          dir is pure delta, so re-parenting it onto the winner's state
          is exactly what a retry would recompute, minus the rewrite;
        - every other op (overwrite, replace_partitions, merge, DML —
          all computed FROM the stale parent's state) raises
          :class:`CommitConflict`; the caller re-reads and re-runs,
          Iceberg's serializable-isolation retry loop.

        Without this check, the second writer's unconditional pointer
        flip would silently discard the first writer's commit — the
        classic lost update."""
        with self._log_lock(table):
            if branch is not None:
                refs = self._load_refs(table)
                if refs["branches"].get(branch) != snap.parent_id:
                    raise CommitConflict(
                        f"branch {branch!r} advanced concurrently (head is "
                        f"{refs['branches'].get(branch)!r}, this commit parents "
                        f"{snap.parent_id!r}); re-read the branch and retry"
                    )
                with open(self._log_path(table), "a") as f:
                    f.write(json.dumps(asdict(snap)) + "\n")
                refs["branches"][branch] = snap.snapshot_id
                self._save_refs(table, refs)
                return snap
            if not snap.staged:
                cur = self.snapshot(table)
                cur_id = cur.snapshot_id if cur else None
                if expected_parent is not None and cur_id != expected_parent:
                    # validate-from-snapshot: the caller's content was
                    # computed FROM expected_parent, so a rebase onto a
                    # different head would be semantically wrong even
                    # for an append (e.g. an incremental-view delta
                    # applied twice) — conflict, never rebase
                    raise CommitConflict(
                        f"table {table!r} advanced concurrently (head is "
                        f"{cur_id!r}, this commit requires parent "
                        f"{expected_parent!r}); re-read the table state "
                        "and retry the operation"
                    )
                if cur_id != snap.parent_id:
                    snap = self._rebase_or_conflict(table, snap, cur)
            with open(self._log_path(table), "a") as f:
                f.write(json.dumps(asdict(snap)) + "\n")
            if not snap.staged:
                self._flip_pointer(table, snap)
        return snap

    def _rebase_or_conflict(
        self, table: str, snap: Snapshot, cur: Snapshot | None
    ) -> Snapshot:
        """Resolve a stale-parent commit (see :meth:`_commit`): rebase
        a metadata-compatible append onto the current head, raise
        :class:`CommitConflict` for everything else. Caller holds the
        table lock."""
        cur_id = cur.snapshot_id if cur else None
        rebasable = (
            snap.op == "append"
            and cur is not None
            and cur.schema_json == snap.schema_json
            and list(cur.partition_spec or []) == list(snap.partition_spec or [])
        )
        if not rebasable:
            raise CommitConflict(
                f"table {table!r} advanced concurrently: this {snap.op!r} was "
                f"computed against parent {snap.parent_id!r} but the pointer is "
                f"{cur_id!r}; re-read the table and retry the operation"
            )
        seq = cur.sequence + 1
        entry = {**snap.state[-1], "seq": seq}
        return replace(
            snap,
            parent_id=cur.snapshot_id,
            sequence=seq,
            state=list(cur.state) + [entry],
            committed_at_unix=time.time(),
            lineage={**snap.lineage, "rebased_from_parent": snap.parent_id},
        )

    @staticmethod
    def _dir_summary(absdirs: list[str], added_rows: int, total_entries: int) -> dict:
        """Iceberg-style snapshot summary from the just-written
        directories' file metadata — sizes from the filesystem, rows
        from the caller (who already has them footer- or
        observation-sourced); never reads data."""
        files = bytes_ = 0
        for absdir in absdirs:
            for root, _d, fns in os.walk(absdir):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        files += 1
                        bytes_ += os.path.getsize(os.path.join(root, fn))
        return {
            "added_files": files,
            "added_bytes": bytes_,
            "added_rows": int(added_rows),
            "total_entries": total_entries,
        }

    def _flip_pointer(self, table: str, snap: Snapshot) -> None:
        ppath = os.path.join(self._manifest_dir, f"{table.replace('/', '__')}.json")
        tmp = f"{ppath}.tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(asdict(snap), f, indent=2)
        os.replace(tmp, ppath)

    def _log_entries(self, table: str) -> list[Snapshot]:
        """Every parseable log line, committed or not — staged WAP
        snapshots and crash phantoms included. :meth:`history` filters
        this down to the pointer's parent chain."""
        out: list[Snapshot] = []
        p = self._log_path(table)
        if not os.path.exists(p):
            return out
        with open(p) as f:
            for line in f:
                try:
                    out.append(Snapshot(**json.loads(line)))
                except (json.JSONDecodeError, TypeError):
                    continue  # torn append from a crash
        return out

    def publish(
        self, table: str, snapshot_id: str, audit_note: dict | None = None
    ) -> Snapshot:
        """Write-audit-publish, step 3: make a staged snapshot the
        committed table state (atomic pointer flip). Refuses when the
        table advanced since the stage (the staged snapshot's parent is
        no longer the pointer) — the WAP analog of Iceberg's commit
        validation; re-stage on top of the new state instead, since the
        staged manifest was computed against the old parent's state.

        ``audit_note`` (JSON-serializable) merges into the PUBLISHED
        line's lineage — the forensic record of which gate this
        snapshot passed to become visible (the staged line is
        untouched). ``snapshots_metadata`` surfaces it with the rest
        of the lineage."""
        staged = [
            s for s in self._log_entries(table)
            if s.snapshot_id == snapshot_id and s.staged
        ]
        if not staged:
            raise LookupError(f"no staged snapshot {snapshot_id!r} for table {table!r}")
        snap = staged[-1]
        cur = self.snapshot(table)
        cur_id = cur.snapshot_id if cur else None
        if snap.parent_id != cur_id:
            raise ValueError(
                f"stale stage: staged snapshot parents {snap.parent_id!r} but the "
                f"table pointer is {cur_id!r}; re-stage against the current state"
            )
        snap.staged = False
        # visibility timeline: readers could not see this snapshot until
        # NOW, so the published line carries publish time (Iceberg's
        # cherry-pick/commit time) — timestamp time-travel and rollback
        # resolve against when data became visible, not when it was
        # staged. The staged line keeps the stage time for forensics.
        snap.committed_at_unix = time.time()
        if audit_note:
            snap.lineage = {**(snap.lineage or {}), "audit": dict(audit_note)}
        # a published line so history()'s by-id map resolves the final
        # (unstaged) version; the old staged line becomes inert
        return self._commit(table, snap)

    def abandon_stage(self, table: str, snapshot_id: str) -> list[str]:
        """Write-audit-publish, the audit-FAILED arm: drop one pending
        staged snapshot — its log line is removed (atomic rewrite) and
        the data directories only it references are deleted. Targeted,
        unlike ``remove_orphan_files(sweep_staged=True)``: other
        pending stages and unrelated orphans are untouched. Returns the
        removed dirs."""
        import shutil

        with self._log_lock(table):
            entries = self._log_entries(table)
            published = {s.snapshot_id for s in entries if not s.staged}
            targets = [
                s for s in entries if s.snapshot_id == snapshot_id and s.staged
            ]
            if not targets or snapshot_id in published:
                raise LookupError(
                    f"no pending staged snapshot {snapshot_id!r} for table {table!r}"
                )
            remaining = [s for s in entries if s.snapshot_id != snapshot_id]
            lpath = self._log_path(table)
            tmp = f"{lpath}.tmp.{uuid.uuid4().hex[:6]}"
            with open(tmp, "w") as f:
                for s in remaining:
                    f.write(json.dumps(asdict(s)) + "\n")
            os.replace(tmp, lpath)
        # dirs still referenced: the pointer chain + every other line
        # (pending stages inherit parent dirs; phantoms are inert but
        # their dirs belong to the sweep, not to this targeted drop)
        live = {e["dir"] for s in remaining for e in s.state}
        pointer = self.snapshot(table)
        if pointer is not None:
            live |= {e["dir"] for e in pointer.state}
        removed = []
        for e in targets[-1].state:
            absdir = os.path.join(self.warehouse, e["dir"])
            if e["dir"] not in live and os.path.isdir(absdir):
                shutil.rmtree(absdir)
                removed.append(e["dir"])
        return sorted(removed)

    # ----------------------------------------------------- file statistics
    @staticmethod
    def _stat_value(v):
        """JSON-serializable, order-preserving image of a footer stat.
        Numbers/strings/bools pass through; date/datetime map to ISO
        strings (ISO order == chronological order, so range overlap
        tests stay correct); bytes decode best-effort."""
        import datetime as _dt

        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    def _file_stats(self, absdir: str, stats_cols: list[str]) -> dict:
        """``{relative file path: {col: [min, max]}}`` from parquet
        footer metadata. A column missing from a file's footer (all
        nulls, unsupported type) is simply absent — that file is never
        pruned on that column."""
        import pyarrow.parquet as pq

        want = set(stats_cols)
        out: dict[str, dict] = {}
        for root, _d, fns in os.walk(absdir):
            for fn in fns:
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(root, fn)
                md = pq.ParquetFile(fpath).metadata
                ranges: dict[str, list] = {}
                # a column must have valid min/max in EVERY row group of
                # the file, else its whole-file range is unknown
                invalid: set[str] = set()
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for ci in range(rgm.num_columns):
                        col = rgm.column(ci)
                        name = col.path_in_schema
                        if name not in want or name in invalid:
                            continue
                        st = col.statistics
                        lo = self._stat_value(st.min) if st and st.has_min_max else None
                        hi = self._stat_value(st.max) if st and st.has_min_max else None
                        if lo is None or hi is None:
                            invalid.add(name)
                            ranges.pop(name, None)
                            continue
                        cur = ranges.get(name)
                        ranges[name] = (
                            [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
                        )
                if ranges:
                    out[os.path.relpath(fpath, absdir)] = ranges
        return out

    @staticmethod
    def _file_matches(stats: dict | None, predicate) -> bool:
        """True if the file may contain rows satisfying ``predicate =
        (col, lo, hi)`` (either bound None = unbounded). No stats for
        the column → can't prune → keep."""
        col, lo, hi = predicate
        rng = (stats or {}).get(col)
        if rng is None:
            return True
        fmin, fmax = rng
        try:
            if lo is not None:
                stat, bound = SnapshotCatalog._as_stat_type(fmax, lo)
                if stat < bound:
                    return False
            if hi is not None:
                stat, bound = SnapshotCatalog._as_stat_type(fmin, hi)
                if stat > bound:
                    return False
        except (TypeError, ValueError):
            pass  # a bound that does not order against the stat → keep
        return True

    @staticmethod
    def _as_stat_type(stat, bound):
        """``(stat, bound)`` as one type, ordered as Spark's row filter
        orders the column. ``_stat_value`` keeps a timestamp stat as an
        aware ISO string (``…+00:00``): against one, both sides become
        UTC datetimes — the bound may be an ISO string, a date or a
        datetime, a naive one read in the session time zone (UTC, which
        ``session.py`` pins). Every other stat compares as it is."""
        if isinstance(stat, str):
            try:
                ts = datetime.datetime.fromisoformat(stat)
            except ValueError:
                ts = None
            if ts is not None and ts.tzinfo is not None:
                if isinstance(bound, str):
                    bound = datetime.datetime.fromisoformat(bound)
                elif not isinstance(bound, datetime.datetime):
                    bound = datetime.datetime.combine(bound, datetime.time())
                if bound.tzinfo is None:
                    bound = bound.replace(tzinfo=datetime.timezone.utc)
                return ts, bound
        return stat, bound

    # ------------------------------------------------------- bloom sidecars
    _BLOOM_SIDECAR = "_bloom.json"

    def _write_blooms(self, absdir: str, cols: list[str], m: int, k: int) -> None:
        """One distributed pass per commit: each (file, col) pair's set
        bit positions aggregate executor-side (``collect_set`` of
        ``xxhash64(cast(col as string), seed) mod m`` — map-side
        combined, at most ``m`` elements per file) and are PACKED into
        the b64 bitmap executor-side too, so the driver collects one
        bounded string per (file, col) and only inserts them into the
        sidecar dict. Values hash via their STRING image so the probe
        literal never drifts from the stored type; nulls set no bits
        (an eq-probe is for a concrete value)."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(absdir)
        blooms: dict[str, dict[str, str]] = {}
        present = [c for c in cols if c in df.columns]
        if present:
            # every column's tagged probe array in ONE projection, so the
            # whole sidecar really is one scan regardless of len(cols)
            arr_t = "array<struct<c:string,p:bigint>>"

            def _tag(name):
                # NB: the lambda must stay single-arg — a two-arg lambda
                # would receive (element, index) from F.transform
                return lambda p: F.struct(F.lit(name).alias("c"), p.alias("p"))

            entries = []
            for c in present:
                probes = F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col(c).cast("string"), F.lit(seed)), F.lit(m)
                        )
                        for seed in range(k)
                    ]
                )
                tagged = F.transform(probes, _tag(c))
                entries.append(
                    F.when(F.col(c).isNotNull(), tagged).otherwise(
                        F.array().cast(arr_t)
                    )
                )
            # pack the bitmap EXECUTOR-side: collect_set keeps its
            # map-side combine (the shuffle moves position SETS, not the
            # raw probe stream), then an Arrow-batched UDF folds each
            # set into the b64 bitmap, so the driver collects ONE
            # bounded string per (file, col) — ~1.4 KB for m=8192 —
            # instead of up to m longs (64 KB); driver work is O(files)
            # string inserts, no bit twiddling
            nbytes = (m + 7) // 8

            @F.pandas_udf("string")
            def _pack_bits(ps: pd.Series) -> pd.Series:
                import base64 as _b64

                import numpy as np

                out = []
                for positions in ps:
                    bits = np.zeros(nbytes, dtype=np.uint8)
                    p = np.asarray(positions, dtype=np.int64)
                    np.bitwise_or.at(
                        bits, p >> 3, (1 << (p & 7)).astype(np.uint8)
                    )
                    out.append(_b64.b64encode(bits.tobytes()).decode())
                return pd.Series(out)

            rows = (
                df.select(
                    F.input_file_name().alias("_f"),
                    F.explode(F.flatten(F.array(*entries))).alias("_e"),
                )
                .select("_f", F.col("_e.c").alias("_c"), F.col("_e.p").alias("_p"))
                .groupBy("_f", "_c")
                .agg(F.collect_set("_p").alias("_ps"))
                .select("_f", "_c", _pack_bits("_ps").alias("_b"))
                .collect()
            )
            for r in rows:
                rel = os.path.relpath(r["_f"].removeprefix("file://"), absdir)
                blooms.setdefault(rel, {})[r["_c"]] = r["_b"]
        side = os.path.join(absdir, self._BLOOM_SIDECAR)
        tmp = f"{side}.tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump({"m": m, "k": k, "files": blooms}, f)
        os.replace(tmp, side)

    def _load_blooms(self, absdir: str) -> dict | None:
        """Sidecar load with a per-catalog cache (snapshot dirs are
        immutable once committed, so the cache never goes stale)."""
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        if absdir not in cache:
            side = os.path.join(absdir, self._BLOOM_SIDECAR)
            if not os.path.isfile(side):
                cache[absdir] = None
            else:
                with open(side) as f:
                    cache[absdir] = json.load(f)
        return cache[absdir]

    def _bloom_positions(self, value, m: int, k: int) -> list[int]:
        """The k probe bit positions for ``value`` — computed by the
        SAME JVM xxhash64 AND the same CAST-to-string the build pass
        used (``F.lit(value).cast("string")``, never python ``str``:
        Spark renders booleans as ``true``/``false`` and doubles in its
        own scientific notation, so a python-formatted probe would miss
        present values — a silent wrong-result, not a perf loss).
        Cached per (type, value, m, k): repeated probes and multi-entry
        sidecars cost one local job total, not one per entry."""
        from pyspark.sql import functions as F

        cache = getattr(self, "_bloom_pos_cache", None)
        if cache is None:
            cache = self._bloom_pos_cache = {}
        ck = (type(value).__name__, repr(value), m, k)
        if ck not in cache:
            row = self.spark.range(1).select(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(value).cast("string"), F.lit(seed)), F.lit(m)
                    ).alias(f"p{seed}")
                    for seed in range(k)
                ]
            ).collect()[0]
            cache[ck] = [row[f"p{seed}"] for seed in range(k)]
        return cache[ck]

    @staticmethod
    def _bloom_matches(b64bits: str | None, positions: list[int]) -> bool:
        """False only when the bloom PROVES the value absent (some probe
        bit unset). No bloom for the (file, col) → can't prune → keep."""
        if b64bits is None:
            return True
        import base64

        bits = base64.b64decode(b64bits)
        return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)

    # ---------------------------------------------------------------- merge
    @staticmethod
    def _leaf_path(partition_by: list[str], values: tuple) -> str:
        """``key=value[/key=value...]`` leaf path for a partition tuple,
        with Spark's Hive-style escaping of path-hostile characters
        (mirrors ExternalCatalogUtils.escapePathName) so the computed
        mask matches what ``partitionBy`` writes on disk."""
        unsafe = set('"#%\'*/:=?\\{[]^')

        def esc(v) -> str:
            if v is None:
                return "__HIVE_DEFAULT_PARTITION__"
            return "".join(
                f"%{ord(ch):02X}" if (ch in unsafe or ord(ch) < 0x20 or ord(ch) == 0x7F) else ch
                for ch in str(v)
            )

        return "/".join(f"{k}={esc(v)}" for k, v in zip(partition_by, values))

    def merge(
        self,
        source: DataFrame,
        table: str,
        on: list[str],
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
        partition_by: list[str] | None = None,
        lineage: dict | None = None,
        strategy: str = "cow",
        when_not_matched_by_source: str | None = None,
    ) -> Snapshot:
        """``MERGE INTO`` analog (Iceberg's copy-on-write merge): rows of
        ``source`` whose ``on`` keys match a target row update (or
        delete) it; unmatched source rows insert. One snapshot commit;
        pre-merge state stays time-travelable.

        Copy-on-write granularity: when ``partition_by`` is given AND
        the partition columns are a subset of the merge keys (so a key
        pins its partition — the upsert-by-(day, id) shape), only the
        partitions present in ``source`` are rewritten: the commit is a
        ``replace_partitions`` whose mask covers exactly the touched
        leaves, and every other partition's files carry over untouched —
        at 100 TB a daily upsert rewrites one day, not the table.
        Otherwise (keys that can move rows across partitions, or an
        unpartitioned table) the merge is a full-table rewrite, which is
        what Iceberg's CoW MERGE degrades to when the ON clause can't
        prune files.

        Guards: ``source`` must be key-unique (duplicate merge keys make
        the matched-row image nondeterministic — same error Iceberg
        raises) and column-compatible with the target. An empty source
        commits nothing and returns the current snapshot.

        ``strategy="mor"`` is Iceberg v2's MERGE-ON-READ: instead of
        rewriting any target file, the commit adds an EQUALITY-DELETE
        entry (a parquet file of the source's merge keys) plus a data
        entry with the new row images — at 100 TB an upsert of 0.1% of
        rows writes 0.1% of the data and reads NONE of the target (the
        upsert shape, update+insert, needs no matched/unmatched split:
        deleting then inserting every source key is the same commit
        either way; update-only and delete+insert read only the
        target's key columns to classify). Readers apply the deletes
        as a broadcast anti-join restricted by the sequence rule (a
        delete masks only data entries committed BEFORE it), so a
        later re-insert of a deleted key survives. The read-side debt
        is repaid by :meth:`compact`, which materializes deletes away.
        Merge keys must be non-null under ``mor`` (equality deletes
        can't match nulls — same restriction as Iceberg's).

        ``when_not_matched_by_source="delete"`` completes the ANSI/
        Delta MERGE surface: target rows whose key does NOT appear in
        ``source`` are dropped — with update+insert this is full
        source-sync (the target becomes exactly the source's image),
        the SCD-1 mirror shape. The clause is GLOBAL over the target
        (a row in a partition the source never touched is still
        not-matched-by-source), so it forces the full-rewrite path
        rather than the partition-pruned one, and an EMPTY source
        legitimately deletes every row. Rejected under
        ``strategy="mor"``: the equality-delete file would have to
        carry every absent target key — the anti-sparse shape; use
        copy-on-write for mirror syncs.
        """
        from pyspark.sql import functions as F

        if strategy not in ("cow", "mor"):
            raise ValueError(f"strategy must be cow or mor, got {strategy!r}")
        if when_matched not in ("update", "delete", None):
            raise ValueError(f"when_matched must be update/delete/None, got {when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise ValueError(f"when_not_matched must be insert/None, got {when_not_matched!r}")
        if when_not_matched_by_source not in ("delete", None):
            raise ValueError(
                "when_not_matched_by_source must be delete/None, "
                f"got {when_not_matched_by_source!r}"
            )
        if when_matched is None and when_not_matched is None \
                and when_not_matched_by_source is None:
            raise ValueError("merge with no matched and no not-matched clause is a no-op")
        if when_not_matched_by_source and strategy == "mor":
            raise ValueError(
                "when_not_matched_by_source requires strategy='cow': the "
                "equality-delete file would carry every target key absent "
                "from the source (anti-sparse)"
            )
        if not on:
            raise ValueError("merge requires at least one key column")
        prev = self.snapshot(table)
        if prev is None:
            raise LookupError(f"no committed table {table!r}")
        target = self.read_table(table)
        if set(source.columns) != set(target.columns):
            raise ValueError(
                f"source columns {sorted(source.columns)} != target columns "
                f"{sorted(target.columns)}"
            )
        if not source.head(1) and when_not_matched_by_source is None:
            return prev  # empty source: nothing to commit
        if (
            source.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1).head(1)
        ):
            raise ValueError(f"merge source has duplicate keys on {on}")

        if strategy == "mor":
            return self._merge_mor(
                source, table, on, when_matched, when_not_matched,
                partition_by, lineage, prev, target,
            )

        # not-matched-by-source is global over the target, so it must
        # see (and rewrite) every partition — never the pruned path
        pruned = (
            bool(partition_by) and set(partition_by) <= set(on)
            and when_not_matched_by_source is None
        )
        leaves: list[str] | None = None
        if pruned:
            # touched partitions: driver-sized (one tuple per partition)
            parts = [tuple(r) for r in source.select(*partition_by).distinct().collect()]
            leaves = sorted(self._leaf_path(partition_by, p) for p in parts)
            tpart = target.join(
                F.broadcast(source.select(*partition_by).distinct()), partition_by, "left_semi"
            )
        else:
            tpart = target

        keys = source.select(*on).distinct()
        pieces = []
        if when_matched is None and when_not_matched_by_source is None:
            # insert-only merge keeps the whole target verbatim — no
            # reason to split it into anti ∪ semi (two full-target
            # joins whose union is provably tpart)
            pieces.append(tpart)
        else:
            # target rows whose key is absent from the source
            if when_not_matched_by_source is None:
                pieces.append(tpart.join(keys, on, "left_anti"))
            # matched target rows: kept verbatim only with no matched
            # clause (update re-adds the source image; delete drops)
            if when_matched is None:
                pieces.append(tpart.join(keys, on, "left_semi"))
        tkeys = tpart.select(*on).distinct()
        if when_matched == "update":
            pieces.append(source.join(tkeys, on, "left_semi"))
        if when_not_matched == "insert":
            pieces.append(source.join(tkeys, on, "left_anti"))
        if pieces:
            out = pieces[0].select(*target.columns)
            for p in pieces[1:]:
                out = out.unionByName(p.select(*target.columns))
        else:  # delete-everything shapes (e.g. matched delete + nmbs delete)
            out = target.select(*target.columns).limit(0)

        merge_lineage = {
            "stage": "merge",
            "on": list(on),
            "when_matched": when_matched,
            "when_not_matched": when_not_matched,
            **(
                {"when_not_matched_by_source": when_not_matched_by_source}
                if when_not_matched_by_source else {}
            ),
            **(lineage or {}),
        }
        if pruned:
            return self.write_table(
                out,
                table,
                mode="replace_partitions",
                partition_by=partition_by,
                lineage=merge_lineage,
                replace_leaves=leaves,
            )
        return self.write_table(
            out, table, mode="overwrite", partition_by=partition_by, lineage=merge_lineage
        )

    def _merge_mor(
        self,
        source: DataFrame,
        table: str,
        on: list[str],
        when_matched: str | None,
        when_not_matched: str | None,
        partition_by: list[str] | None,
        lineage: dict | None,
        prev: Snapshot,
        target: DataFrame,
    ) -> Snapshot:
        """Merge-on-read commit: one snapshot that ADDS an equality-
        delete entry (source merge keys) and/or a data entry (new row
        images) to the parent's state — never rewrites or masks a
        parent entry. See :meth:`merge` for semantics."""
        import functools

        from pyspark.sql import functions as F

        if partition_by and any("(" in p for p in partition_by):
            raise ValueError(
                "merge strategy='mor' does not support hidden partition "
                "transforms; pass plain columns or omit partition_by"
            )
        if source.where(
            functools.reduce(lambda a, b: a | b, [F.col(k).isNull() for k in on])
        ).head(1):
            raise ValueError(
                f"merge strategy='mor' requires non-null merge keys {on} "
                "(equality deletes cannot match nulls)"
            )
        table_schema = self._evolve_schema(prev, source.schema, "append")
        seq = prev.sequence + 1
        snap_id = uuid.uuid4().hex[:16]
        entries: list[dict] = []
        if when_matched in ("update", "delete"):
            rel_del = f"{table}/snap-{seq:05d}-{snap_id}-eqdel"
            # keys are distinct by the key-unique guard; coalesce(1):
            # a delete file is keys-only and driver-bounded by design
            source.select(*on).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.warehouse, rel_del)
            )
            entries.append({
                "dir": rel_del, "exclude": [],
                "kind": "eq_deletes", "on": list(on), "seq": seq,
            })
        # the upsert shape never reads the target: delete-then-insert
        # of every source key is the same commit whether or not the key
        # existed. The other shapes classify against the target's KEY
        # columns only (a column-pruned scan).
        if when_matched == "update" and when_not_matched == "insert":
            inserts = source
        elif when_matched == "update":
            inserts = source.join(target.select(*on).distinct(), on, "left_semi")
        elif when_not_matched == "insert":
            inserts = source.join(target.select(*on).distinct(), on, "left_anti")
        else:
            inserts = None

        rel_ins = f"{table}/snap-{seq:05d}-{snap_id}"
        row_count = 0
        if inserts is not None:
            writer = inserts.select(*target.columns).write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(os.path.join(self.warehouse, rel_ins))
            row_count = self._dir_row_count(os.path.join(self.warehouse, rel_ins))
            entries.append({"dir": rel_ins, "exclude": [], "seq": seq})

        snap = Snapshot(
            snapshot_id=snap_id,
            table=table,
            row_count=row_count,
            committed_at_unix=time.time(),
            lineage={
                "stage": "merge", "strategy": "mor", "on": list(on),
                "when_matched": when_matched, "when_not_matched": when_not_matched,
                **(lineage or {}),
            },
            parent_id=prev.snapshot_id,
            op="merge-mor",
            state=list(prev.state) + entries,
            sequence=seq,
            schema_json=json.dumps(table_schema.jsonValue()),
            # table metadata carries forward: without the spec, a read
            # of the post-merge snapshot would not know the inherited
            # entries' hidden dir columns and the union would misalign
            partition_spec=list(prev.partition_spec or []),
            summary=self._dir_summary(
                [os.path.join(self.warehouse, e["dir"]) for e in entries],
                row_count, len(prev.state) + len(entries),
            ),
        )
        return self._commit(table, snap)

    # ------------------------------------------------------------------ DML
    @staticmethod
    def _dml_condition(predicate, eq, where):
        """The row-level condition of a DML statement as a Column:
        conjunction of the ``predicate`` range, the ``eq`` equality,
        and an arbitrary residual ``where`` (SQL string or Column).
        Unlike :meth:`read_table` — where predicate/eq are metadata
        HINTS under a caller-refilters contract — here they are part
        of the statement's semantics, so the file pruning they drive
        is sound by construction: a file whose stats/bloom cannot
        match them cannot hold a row the full condition matches."""
        from pyspark.sql import functions as F
        from pyspark.sql.column import Column

        conds = []
        if predicate is not None:
            if len(predicate) != 3 or predicate[0] is None:
                raise ValueError("predicate must be (col, lo, hi)")
            col, lo, hi = predicate
            if lo is None and hi is None:
                raise ValueError("predicate needs at least one bound")
            if lo is not None:
                conds.append(F.col(col) >= F.lit(lo))
            if hi is not None:
                conds.append(F.col(col) <= F.lit(hi))
        if eq is not None:
            if len(eq) != 2 or eq[0] is None or eq[1] is None:
                raise ValueError("eq must be (col, value) with a non-null value")
            conds.append(F.col(eq[0]) == F.lit(eq[1]))
        if where is not None:
            conds.append(F.expr(where) if isinstance(where, str) else where)
            if not isinstance(conds[-1], Column):
                raise ValueError("where must be a SQL string or a Column")
        if not conds:
            raise ValueError("DML needs a condition: predicate, eq, and/or where")
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return cond

    def delete_where(
        self,
        table: str,
        predicate: tuple | None = None,
        eq: tuple | None = None,
        where=None,
        lineage: dict | None = None,
        strategy: str = "cow",
    ) -> Snapshot:
        """Row-level ``DELETE FROM table WHERE ...`` — Iceberg's
        copy-on-write delete at FILE granularity (the reference's
        SQLite store deletes in place, ``src/datastore.py:148-212``;
        Iceberg instead commits a new snapshot and leaves history
        readable).

        Two-phase plan, exactly like Iceberg's delete planning:

        1. **Plan** — candidate files are pruned metadata-only: the
           ``predicate`` range against manifest min/max stats and the
           ``eq`` probe against bloom sidecars (same machinery as
           ``read_table``). One column-pruned scan of the candidates
           then finds the files that ACTUALLY hold matching rows.
        2. **Rewrite** — only those files are read back and rewritten
           without their matching rows; every other file of every
           entry carries over BY REFERENCE (a file-level ``exclude``
           mask on the old entry — no data movement). At 100 TB,
           deleting one bad hour rewrites the files containing that
           hour, not the table.

        The condition is ``predicate AND eq AND where`` (see
        :meth:`_dml_condition`); SQL NULL semantics apply — rows where
        the condition is NULL are NOT deleted. Rewritten survivors
        re-commit at the new sequence number with any pending
        merge-on-read equality deletes APPLIED (otherwise a
        higher-seq rewrite would resurrect MOR-deleted rows); pending
        delete entries stay in state to keep masking the untouched
        files. A delete that matches nothing commits nothing and
        returns the current snapshot. Old snapshots time-travel to the
        pre-delete rows until :meth:`expire_snapshots`; note expiry is
        directory-granular, so masked files' bytes are reclaimed by
        the next :meth:`compact` + expiry, not by expiry alone.

        ``strategy="mor"`` is Iceberg v3's MERGE-ON-READ delete:
        instead of rewriting any file, the commit adds a POSITIONAL-
        DELETE entry (a deletion vector: the (file, row-position)
        identity of each matched row, captured from the scan's
        ``_metadata`` columns) — at 100 TB, deleting a sparse 0.01%
        of rows writes kilobytes and rewrites nothing. Readers mask
        DV rows with one broadcast anti-join on (file, pos); the
        read-side debt is repaid by :meth:`compact`, which
        materializes the deletes away. Sparse-delete contract: the DV
        is sized by the matched row count, so bulk deletes belong on
        the default copy-on-write path."""
        if strategy == "mor":
            return self._dml_mor(table, predicate, eq, where, None, "delete", lineage)
        if strategy != "cow":
            raise ValueError(f"strategy must be cow or mor, got {strategy!r}")
        return self._dml_rewrite(table, predicate, eq, where, None, "delete", lineage)

    def update_where(
        self,
        table: str,
        assignments: dict,
        predicate: tuple | None = None,
        eq: tuple | None = None,
        where=None,
        lineage: dict | None = None,
        strategy: str = "cow",
    ) -> Snapshot:
        """Row-level ``UPDATE table SET ... WHERE ...`` — the
        copy-on-write twin of :meth:`delete_where`, same two-phase
        file-granular plan: only files holding matched rows rewrite;
        matched rows take the ``assignments`` (column name → SQL
        expression string or Column, evaluated against the OLD row —
        simultaneous-assignment semantics, like SQL), unmatched rows
        in those files rewrite byte-equal, and untouched files carry
        by reference. Updating an identity partition column moves the
        row to its new partition directory; updating a hidden
        transform's SOURCE column re-derives the hidden value, so
        partition pruning stays correct. Assigning to a hidden
        partition NAME is rejected (derived, never stored).

        ``strategy="mor"`` is the merge-on-read UPDATE (Iceberg v3):
        one commit adds a deletion vector masking the matched rows'
        old images PLUS a data entry holding their new images — no
        target file rewrites; the new images land (and prune) under
        the current partition layout. Same sparse-update contract and
        :meth:`compact` repayment as the MoR delete."""
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        if strategy == "mor":
            return self._dml_mor(
                table, predicate, eq, where, dict(assignments), "update", lineage
            )
        if strategy != "cow":
            raise ValueError(f"strategy must be cow or mor, got {strategy!r}")
        return self._dml_rewrite(
            table, predicate, eq, where, dict(assignments), "update", lineage
        )

    def _scan_schema_of(self, prev: Snapshot):
        """(logical schema, hidden spec, scan schema incl. hidden
        partition fields) for a snapshot — the read shape every
        masked-rewrite path (row-level DML, scoped compaction) scans
        under."""
        from pyspark.sql.types import StructType

        schema = (
            StructType.fromJson(json.loads(prev.schema_json))
            if prev.schema_json else None
        )
        hidden = self._hidden_of(prev.partition_spec or [])
        scan_schema = schema
        if hidden and schema is not None:
            present = {f.name for f in schema.fields}
            scan_schema = StructType(
                list(schema.fields)
                + [self._hidden_field(s) for s in hidden if s["name"] not in present]
            )
        return schema, hidden, scan_schema

    @staticmethod
    def _validate_assignments(assignments, hidden, schema) -> None:
        """UPDATE assignment guards shared by both DML strategies."""
        bad = [c for c in assignments if c in {s["name"] for s in hidden}]
        if bad:
            raise ValueError(
                f"cannot assign hidden partition columns {bad}; "
                "assign their source columns instead"
            )
        if schema is not None:
            unknown = [c for c in assignments if c not in schema.fieldNames()]
            if unknown:
                raise ValueError(f"unknown update columns {unknown}")

    def _open_entry_files(self, absdir: str, files: list[str], entry: dict,
                          scan_schema) -> DataFrame:
        """Open specific files of one manifest entry under the scan
        schema, through the entry's colmap/cast projection and with
        ``basePath`` so partition-dir columns survive."""
        proj = (
            self._entry_projection(entry, scan_schema)
            if scan_schema is not None else None
        )
        r = self.spark.read.option("basePath", absdir)
        rs = proj[0] if proj else scan_schema
        if rs is not None:
            r = r.schema(rs)
        d = r.parquet(*files)
        return d.select(*proj[1]) if proj else d

    @staticmethod
    def _accumulate_skip_meta(e: dict, stats_cols: set,
                              bloom_meta: dict | None) -> dict | None:
        """Fold one rewritten entry's skipping metadata into the
        accumulators, translating the entry's PHYSICAL column names to
        the LOGICAL names the rewrite will write. Bloom columns UNION
        across entries (last-wins would silently drop skipping for the
        other entries' probe columns); m/k take the max."""
        to_logical = {v: k for k, v in (e.get("colmap") or {}).items()}
        stats_cols |= {
            to_logical.get(c, c)
            for fd in (e.get("files") or {}).values() for c in fd
        }
        if e.get("bloom"):
            cols = {to_logical.get(c, c) for c in e["bloom"]["cols"]}
            if bloom_meta is None:
                bloom_meta = {"m": e["bloom"]["m"], "k": e["bloom"]["k"],
                              "cols": cols}
            else:
                bloom_meta = {
                    "m": max(bloom_meta["m"], e["bloom"]["m"]),
                    "k": max(bloom_meta["k"], e["bloom"]["k"]),
                    "cols": set(bloom_meta["cols"]) | cols,
                }
        return bloom_meta

    def _apply_delete_sidecars(self, rewrite: DataFrame, dv_entries: list,
                               eq_entries: list) -> DataFrame:
        """Materialize pending merge-on-read debt on a rewrite frame
        (which carries per-entry ``__entry_seq`` and, when DVs are
        pending, ``__file``/``__pos``)."""
        if dv_entries:
            rewrite = self._apply_pos_deletes(rewrite, dv_entries)
        if eq_entries:
            rewrite = self._apply_eq_deletes(rewrite, eq_entries)
        else:
            rewrite = rewrite.drop("__entry_seq")
        return rewrite

    def _skip_meta_entry(self, new_entry: dict, abs_dir: str, row_count: int,
                         stats_cols: set, bloom_meta: dict | None) -> dict:
        """Re-harvest skipping metadata for a rewrite's new entry so a
        predicate that pruned before the rewrite prunes after it."""
        if row_count:
            if stats_cols:
                new_entry["files"] = self._file_stats(abs_dir, sorted(stats_cols))
            if bloom_meta:
                cols = sorted(bloom_meta["cols"])
                self._write_blooms(abs_dir, cols, bloom_meta["m"], bloom_meta["k"])
                new_entry["bloom"] = {"m": bloom_meta["m"], "k": bloom_meta["k"],
                                      "cols": cols}
        return new_entry

    def _pruned_dv_state(
        self, state: list[dict], masked_wh: set[str], seq: int, table: str
    ) -> list[dict]:
        """After a masked rewrite, positional-delete rows naming files
        this commit just masked are DEAD — the rows they masked no
        longer exist in any live entry. Shrink each DV sidecar to its
        live rows (a new dir; old snapshots keep reading their own)
        and DROP it when empty, so a scoped compaction that
        materialized all the debt also retires the read-side
        anti-join and lets ``changes()`` return to the fast file-diff
        path. DV files are kilobytes by contract — this costs one
        driver-cheap read per sidecar."""
        from pyspark.sql import functions as F

        out: list[dict] = []
        for e in state:
            if e.get("kind") != "pos_deletes":
                out.append(e)
                continue
            dv = self.spark.read.parquet(os.path.join(self.warehouse, e["dir"]))
            live = dv.where(~F.col("__file").isin(sorted(masked_wh)))
            n_all, n_live = dv.count(), live.count()
            if n_live == n_all:
                out.append(e)
                continue
            if n_live == 0:
                continue  # fully materialized: retire the sidecar
            rel_new = f"{table}/snap-{seq:05d}-{uuid.uuid4().hex[:8]}-posdel"
            live.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.warehouse, rel_new)
            )
            out.append({**e, "dir": rel_new})
        return out

    def _dml_rewrite(
        self, table, predicate, eq, where, assignments, op_name, lineage
    ) -> Snapshot:
        from pyspark.sql import functions as F

        cond = self._dml_condition(predicate, eq, where)
        matched = F.coalesce(cond, F.lit(False))
        prev = self.snapshot(table)
        if prev is None or not prev.state:
            raise LookupError(f"no committed snapshot table {table!r}")
        schema, hidden, scan_schema = self._scan_schema_of(prev)
        if assignments:
            self._validate_assignments(assignments, hidden, schema)

        def _open(absdir, files, entry):
            return self._open_entry_files(absdir, files, entry, scan_schema)

        # phase 1: plan — metadata-pruned candidates, then one scan
        # (projected to the file name) finds files with real matches
        dv_entries = [e for e in prev.state if e.get("kind") == "pos_deletes"]
        cands: dict[int, tuple[str, list[str]]] = {}
        probe = None
        for i, e in enumerate(prev.state):
            if e.get("kind"):
                continue  # delete sidecars (eq keys / DVs) are masks
            files = self._pruned_files(e, predicate, eq)
            if not files:
                continue
            absdir = os.path.join(self.warehouse, e["dir"])
            cands[i] = (absdir, files)
            p = _open(absdir, files, e).where(cond).select(
                F.input_file_name().alias("__f")
            )
            probe = p if probe is None else probe.unionByName(p)
        if probe is None:
            return prev
        import urllib.parse

        matched_paths = {
            os.path.abspath(urllib.parse.unquote(urllib.parse.urlparse(r["__f"]).path))
            for r in probe.distinct().collect()
        }
        if not matched_paths:
            return prev

        # phase 2: rewrite only the hit files; mask them on their entry
        seq = prev.sequence + 1
        new_state: list[dict] = []
        rewrite = None
        stats_cols: set[str] = set()
        masked_wh: set[str] = set()
        bloom_meta: dict | None = None
        for i, e in enumerate(prev.state):
            if i not in cands:
                new_state.append(e)
                continue
            absdir, files = cands[i]
            hit = [f for f in files if os.path.abspath(f) in matched_paths]
            if not hit:
                new_state.append(e)
                continue
            rels = sorted(os.path.relpath(f, absdir) for f in hit)
            masked_wh |= {os.path.join(e["dir"], r) for r in rels}
            new_state.append({**e, "exclude": sorted(set(e["exclude"]) | set(rels))})
            bloom_meta = self._accumulate_skip_meta(e, stats_cols, bloom_meta)
            d = _open(absdir, hit, e)
            if dv_entries:
                # rewritten survivors must not resurrect DV-masked rows
                d = d.select("*", *self._pos_exprs())
            d = d.withColumn("__entry_seq", F.lit(int(e.get("seq", 0))))
            rewrite = d if rewrite is None else rewrite.unionByName(d)

        del_entries = [e for e in prev.state if e.get("kind") == "eq_deletes"]
        rewrite = self._apply_delete_sidecars(rewrite, dv_entries, del_entries)
        if dv_entries:
            # DV rows naming just-masked files are dead; shrink/retire
            new_state = self._pruned_dv_state(new_state, masked_wh, seq, table)
        if assignments:
            out = rewrite.withColumns({
                c: F.when(matched, F.expr(v) if isinstance(v, str) else v)
                .otherwise(F.col(c))
                for c, v in assignments.items()
            })
            # a hidden transform whose source was assigned re-derives,
            # so the rewritten rows land (and prune) under the right
            # partition value
            redo = {
                s["name"]: self._transform_col(s)
                for s in hidden if s["source"] in assignments
            }
            if redo:
                out = out.withColumns(redo)
        else:
            out = rewrite.where(~matched)

        snap_id = uuid.uuid4().hex[:16]
        rel_dir = f"{table}/snap-{seq:05d}-{snap_id}"
        abs_dir = os.path.join(self.warehouse, rel_dir)
        part_names = self._current_partitioning(prev)
        writer = out.write.mode("overwrite")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(abs_dir)
        row_count = self._dir_row_count(abs_dir)

        new_entry = self._skip_meta_entry(
            {"dir": rel_dir, "exclude": [], "seq": seq},
            abs_dir, row_count, stats_cols, bloom_meta,
        )
        snap = Snapshot(
            snapshot_id=snap_id,
            table=table,
            row_count=row_count,
            committed_at_unix=time.time(),
            lineage={
                "stage": op_name,
                **({"set": sorted(assignments)} if assignments else {}),
                **(lineage or {}),
            },
            parent_id=prev.snapshot_id,
            op=op_name,
            state=new_state + [new_entry],
            sequence=seq,
            schema_json=prev.schema_json,
            partition_spec=list(prev.partition_spec or []),
            summary=self._dir_summary([abs_dir], row_count, len(new_state) + 1),
        )
        return self._commit(table, snap)

    def _dml_mor(
        self, table, predicate, eq, where, assignments, op_name, lineage
    ) -> Snapshot:
        """Merge-on-read row-level DML — Iceberg v3's deletion
        vectors. ONE commit that adds a positional-delete entry
        (``kind="pos_deletes"``: the warehouse-relative ``__file`` and
        row ``__pos`` of every matched row) and, for UPDATE, a data
        entry holding the matched rows' new images. No target file is
        rewritten or masked — at 100 TB a sparse delete writes
        kilobytes where copy-on-write rewrites every hit file.

        Matching scans under the SAME metadata pruning as the CoW path
        (stats/bloom via ``_pruned_files`` inside ``_entry_df``), and
        applies the parent's pending delete sidecars first — an UPDATE
        must not re-insert the new image of a row an earlier delete
        already masked (that would resurrect it). New images land (and
        prune) under the current partition layout, with hidden
        transform values re-derived when their source column is
        assigned. The DV needs no sequence rule: it pins exact rows of
        exact files, and files are never reused across commits."""
        from pyspark.sql import functions as F

        cond = self._dml_condition(predicate, eq, where)
        prev = self.snapshot(table)
        if prev is None or not prev.state:
            raise LookupError(f"no committed snapshot table {table!r}")
        schema, hidden, scan_schema = self._scan_schema_of(prev)
        if assignments:
            self._validate_assignments(assignments, hidden, schema)
        dv_entries = [e for e in prev.state if e.get("kind") == "pos_deletes"]
        eq_entries = [e for e in prev.state if e.get("kind") == "eq_deletes"]
        scan = None
        for e in prev.state:
            if e.get("kind"):
                continue  # delete sidecars are masks, not rows
            d = self._entry_df(e, scan_schema, predicate, eq)
            if d is None:
                continue
            # row identity selected per entry, pre-union (_metadata
            # resolves against one scan)
            d = d.select("*", *self._pos_exprs())
            d = d.withColumn("__entry_seq", F.lit(int(e.get("seq", 0))))
            scan = d if scan is None else scan.unionByName(d)
        if scan is None:
            return prev
        if dv_entries:
            scan = self._apply_pos_deletes(scan, dv_entries, drop=False)
        if eq_entries:
            scan = self._apply_eq_deletes(scan, eq_entries)
        else:
            scan = scan.drop("__entry_seq")
        matched = scan.where(F.coalesce(cond, F.lit(False)))
        if assignments:
            # the DV write and the new-image write both consume this
            # frame; pin it so the scan runs once (sparse by contract)
            matched = matched.persist()

        try:
            seq = prev.sequence + 1
            snap_id = uuid.uuid4().hex[:16]
            rel_dv = f"{table}/snap-{seq:05d}-{snap_id}-posdel"
            abs_dv = os.path.join(self.warehouse, rel_dv)
            # coalesce(1): a DV file is identity-only and sized by the
            # matched row count, like the eq-delete sidecar
            matched.select("__file", "__pos").coalesce(1).write.mode(
                "overwrite"
            ).parquet(abs_dv)
            n_masked = self._dir_row_count(abs_dv)
            if not n_masked:
                import shutil

                shutil.rmtree(abs_dv, ignore_errors=True)
                return prev
            entries: list[dict] = [
                {"dir": rel_dv, "exclude": [], "kind": "pos_deletes", "seq": seq}
            ]
            dirs = [abs_dv]
            row_count = 0
            if assignments:
                # matched-only frame: assign directly (withColumns
                # evaluates every expression against the OLD row image)
                out = matched.withColumns({
                    c: F.expr(v) if isinstance(v, str) else v
                    for c, v in assignments.items()
                })
                redo = {
                    s["name"]: self._transform_col(s)
                    for s in hidden if s["source"] in assignments
                }
                if redo:
                    out = out.withColumns(redo)
                out = out.drop("__file", "__pos")
                rel_ins = f"{table}/snap-{seq:05d}-{snap_id}"
                abs_ins = os.path.join(self.warehouse, rel_ins)
                part_names = self._current_partitioning(prev)
                writer = out.write.mode("overwrite")
                if part_names:
                    writer = writer.partitionBy(*part_names)
                writer.parquet(abs_ins)
                row_count = self._dir_row_count(abs_ins)
                entries.append({"dir": rel_ins, "exclude": [], "seq": seq})
                dirs.append(abs_ins)
        finally:
            if assignments:
                matched.unpersist()

        snap = Snapshot(
            snapshot_id=snap_id,
            table=table,
            row_count=row_count,
            committed_at_unix=time.time(),
            lineage={
                "stage": op_name, "strategy": "mor",
                "masked_rows": n_masked,
                **({"set": sorted(assignments)} if assignments else {}),
                **(lineage or {}),
            },
            parent_id=prev.snapshot_id,
            op=f"{op_name}-mor",
            state=list(prev.state) + entries,
            sequence=seq,
            schema_json=prev.schema_json,
            partition_spec=list(prev.partition_spec or []),
            summary=self._dir_summary(
                dirs, row_count, len(prev.state) + len(entries)
            ),
        )
        return self._commit(table, snap)

    # ----------------------------------------------------------------- read
    @staticmethod
    def _entry_pcol(entry: dict, col: str) -> str:
        """The PHYSICAL column name inside this entry's files for the
        table's logical column ``col`` — they differ after a
        metadata-only :meth:`rename_column` (the entry's ``colmap``
        records logical → physical; files never rewrite)."""
        return (entry.get("colmap") or {}).get(col, col)

    @staticmethod
    def _entry_bloomable(entry: dict, col: str) -> bool:
        """Whether the entry's bloom sidecar is still probe-valid for
        logical ``col``: a :meth:`widen_column` from a FRACTIONAL type
        invalidates it (blooms hash the value's string image, and
        float vs double renderings can differ); integer widens keep
        the same image, renames only move the name."""
        phys_type = (entry.get("casts") or {}).get(col)
        return phys_type is None or not str(phys_type).startswith("float")

    def _entry_projection(self, entry: dict, schema):
        """``None`` when the entry's physical layout already matches
        the logical ``schema``; else ``(physical_read_schema,
        logical_selects)`` — read the files under the names/types they
        were WRITTEN with, then select/cast/alias back to the logical
        schema. This is how metadata-only rename/widen evolution reads
        old files without rewriting a byte (Delta column mapping /
        Iceberg field-id resolution)."""
        colmap = entry.get("colmap") or {}
        casts = entry.get("casts") or {}
        if not colmap and not casts:
            return None
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        phys_fields, selects = [], []
        for f in schema.fields:
            pname = colmap.get(f.name, f.name)
            if f.name in casts:
                ptype = StructType.fromJson({
                    "type": "struct",
                    "fields": [{"name": "x", "type": casts[f.name],
                                "nullable": True, "metadata": {}}],
                }).fields[0].dataType
            else:
                ptype = f.dataType
            phys_fields.append(StructField(pname, ptype, True))
            c = F.col(pname)
            if f.name in casts:
                c = c.cast(f.dataType)
            selects.append(c.alias(f.name))
        return StructType(phys_fields), selects

    def _pruned_files(self, entry: dict, predicate=None, eq=None) -> list[str]:
        """The manifest entry's live files after scan-planning pruning:
        exclude masks, then per-file min/max stats against ``predicate``
        (when the entry committed ``stats_cols``), then per-file bloom
        probes against ``eq`` (when it committed ``bloom_cols``).
        Shared by :meth:`_entry_df` (reads) and the DML rewrite planner
        (:meth:`delete_where` / :meth:`update_where`), so a predicate
        bounds the rewrite set exactly as it bounds a scan. Stats and
        bloom sidecars are keyed by the entry's PHYSICAL column names;
        logical predicate/eq columns map through the entry's rename
        history (:meth:`_entry_pcol`), so skipping keeps firing across
        metadata-only renames."""
        absdir = os.path.join(self.warehouse, entry["dir"])
        files = self._entry_files(absdir, entry["exclude"])
        fstats = entry.get("files") if predicate is not None else None
        if fstats is not None:
            pred = (self._entry_pcol(entry, predicate[0]),) + tuple(predicate[1:])
            files = [
                f for f in files
                if self._file_matches(fstats.get(os.path.relpath(f, absdir)), pred)
            ]
        if eq is not None and entry.get("bloom"):
            col = self._entry_pcol(entry, eq[0])
            if col in entry["bloom"]["cols"] and self._entry_bloomable(entry, eq[0]):
                side = self._load_blooms(absdir)
                if side is not None:
                    fmap = side["files"]
                    positions = self._bloom_positions(eq[1], side["m"], side["k"])
                    files = [
                        f for f in files
                        if self._bloom_matches(
                            (fmap.get(os.path.relpath(f, absdir)) or {}).get(col),
                            positions,
                        )
                    ]
        return files

    def _entry_df(self, entry: dict, schema, predicate=None, eq=None) -> DataFrame | None:
        absdir = os.path.join(self.warehouse, entry["dir"])
        proj = self._entry_projection(entry, schema) if schema is not None else None
        reader = self.spark.read.option("basePath", absdir)
        read_schema = proj[0] if proj else schema
        if read_schema is not None:
            reader = reader.schema(read_schema)
        prunable = (
            (predicate is not None and entry.get("files"))
            or (
                eq is not None
                and entry.get("bloom")
                and self._entry_pcol(entry, eq[0]) in entry["bloom"]["cols"]
                and self._entry_bloomable(entry, eq[0])
            )
        )
        if not entry["exclude"] and not prunable:
            # a zero-row delta (e.g. a merge that deleted every row of
            # its touched partitions) writes a dir with no parquet files
            # — skip it instead of letting schema inference blow up
            has_parquet = any(
                fn.endswith(".parquet")
                for _root, _d, fns in os.walk(absdir)
                for fn in fns
            )
            d = reader.parquet(absdir) if has_parquet else None
        else:
            files = self._pruned_files(entry, predicate, eq)
            if not files:
                return None
            d = reader.parquet(*files)
        if d is not None and proj is not None:
            d = d.select(*proj[1])
        elif d is not None and hasattr(schema, "fields"):
            # partition discovery appends dir columns even under an
            # explicit schema; entries written under an OLDER partition
            # spec would leak their hidden dir columns into the union —
            # normalize every entry to exactly the scan schema.
            # (DDL-string schemas skip this: their callers predate
            # hidden specs and rely on discovery.)
            d = d.select(*[f.name for f in schema.fields])
        return d

    def read_table(
        self,
        table: str,
        schema=None,
        as_of: str | float | int | datetime.datetime | None = None,
        since: str | None = None,
        predicate: tuple | None = None,
        eq: tuple | None = None,
    ) -> DataFrame:
        """Current table state; ``as_of`` = time travel to a snapshot
        id OR a point in time (datetime / epoch number / ISO-8601
        string — the last snapshot committed at or before it, Iceberg's
        ``FOR SYSTEM_TIME AS OF``); ``since`` = incremental scan
        (directories committed after
        that snapshot — append/replace deltas only). When no explicit
        ``schema`` is given, the SNAPSHOT's recorded schema drives the
        scan — so after add-column evolution, pre-evolution data dirs
        read back with nulls in the added columns, and time travel
        reads each snapshot under the schema it was committed with.

        ``predicate=(col, lo, hi)`` (either bound None) prunes whole
        FILES whose manifest min/max range (recorded by
        ``write_table(stats_cols=...)``) cannot overlap [lo, hi] —
        scan planning never opens them. Metadata-level only, exactly
        like Iceberg: the returned frame may still contain rows outside
        the range (from files that straddle the bound, or files
        committed without stats), so callers apply their row-level
        ``.filter`` on top; the predicate just shrinks the file list
        that filter has to scan.

        ``eq=(col, value)`` prunes via per-file BLOOM filters (recorded
        by ``write_table(bloom_cols=...)``) — the equality-probe
        complement to range stats, for keys whose per-file min/max
        spans everything. Same metadata-only contract: surviving files
        may still lack the value (bloom false positives, files without
        blooms), so callers keep their row-level ``.filter``."""
        if predicate is not None and (len(predicate) != 3 or predicate[0] is None):
            raise ValueError("predicate must be (col, lo, hi)")
        if eq is not None and (len(eq) != 2 or eq[0] is None or eq[1] is None):
            raise ValueError("eq must be (col, value) with a non-null value")
        snap = self._resolve(table, as_of)
        if snap is None or not snap.state:
            raise LookupError(f"no committed snapshot of table {table!r}")
        if schema is None and snap.schema_json:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(snap.schema_json))
        # hidden partitioning: scan WITH the hidden columns (their dir
        # values; entries written under another spec read them null),
        # prune on them from source-column predicates, drop them last
        hidden = self._hidden_of(snap.partition_spec or [])
        scan_schema = schema
        if hidden and schema is not None:
            from pyspark.sql.types import StructType

            present = {f.name for f in schema.fields}
            scan_schema = StructType(
                list(schema.fields)
                + [self._hidden_field(s) for s in hidden if s["name"] not in present]
            )
        entries = snap.state
        if since is not None:
            before = self._resolve(table, since)
            seen = {e["dir"] for e in before.state}
            entries = [e for e in snap.state if e["dir"] not in seen]
        # merge-on-read deletes (equality keys AND positional deletion
        # vectors): applied on full reads; the ``since`` incremental
        # scan stays append-deltas-only by contract (row-accurate CDC
        # is :meth:`changes`)
        deletes = (
            [] if since is not None
            else [e for e in entries if e.get("kind") == "eq_deletes"]
        )
        dvs = (
            [] if since is not None
            else [e for e in entries if e.get("kind") == "pos_deletes"]
        )
        dfs = []
        for e in entries:
            if e.get("kind"):
                continue  # delete sidecars are masks, not rows
            d = self._entry_df(e, scan_schema, predicate, eq)
            if d is None:
                continue
            if dvs:
                # row identity must be selected per entry, pre-union
                d = d.select("*", *self._pos_exprs())
            if deletes:
                from pyspark.sql import functions as F

                d = d.withColumn("__entry_seq", F.lit(int(e.get("seq", 0))))
            dfs.append(d)
        if not dfs:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            raise ValueError(f"table {table!r} is empty at this snapshot; pass schema=")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        if dvs:
            out = self._apply_pos_deletes(out, dvs)
        if deletes:
            out = self._apply_eq_deletes(out, deletes)
        if hidden:
            out = self._prune_hidden(out, hidden, predicate, eq)
            out = out.drop(*[s["name"] for s in hidden])
        return out

    def _prune_hidden(self, out: DataFrame, hidden: list[dict], predicate, eq) -> DataFrame:
        """Iceberg's hidden-partition pruning: a predicate on the
        SOURCE column becomes a PartitionFilter on the derived column —
        the user never names the layout. Time transforms are monotone
        (date / zero-padded formats compare chronologically), so a
        [lo, hi] source range maps to [f(lo), f(hi)] on the partition
        value; bucket/truncate prune equality probes. Rows whose hidden
        value is NULL (entries written under a different spec) are
        KEPT — pruning is metadata-level best-effort, same contract as
        the file-stat predicate: the caller's row filter stays on top."""
        from pyspark.sql import functions as F

        for s in hidden:
            name = F.col(s["name"])
            guard = name.isNull()
            if (
                predicate is not None
                and predicate[0] == s["source"]
                and s["transform"] in ("day", "month", "hour")
            ):
                _col, lo, hi = predicate
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (name >= self._transform_col(s, F.lit(lo)))
                if hi is not None:
                    cond = cond & (name <= self._transform_col(s, F.lit(hi)))
                out = out.where(cond | guard)
            if eq is not None and eq[0] == s["source"] and s["transform"] != "identity":
                out = out.where(
                    (name == self._transform_col(s, F.lit(eq[1]))) | guard
                )
        return out

    def _pos_exprs(self) -> list:
        """``(__file, __pos)`` row-identity expressions — Spark's
        parquet ``_metadata`` hidden struct, with the file path made
        warehouse-RELATIVE so deletion-vector files stay valid if the
        warehouse moves. Must be selected per entry (before any union;
        ``_metadata`` resolves against one scan). The prefix check
        raises rather than silently mis-keying: a DV row whose file
        never matches would un-delete the row."""
        from pyspark.sql import functions as F

        # the scan may report the path as given OR symlink-resolved,
        # so accept both prefixes; anything else raises loudly (a DV
        # row whose file never matches would un-delete the row)
        prefixes = list(dict.fromkeys(
            "file:" + q + os.sep
            for q in (os.path.abspath(self.warehouse),
                      os.path.realpath(self.warehouse))
        ))
        fp = F.col("_metadata.file_path")
        rel = F.raise_error(F.concat(
            F.lit("file outside warehouse in deletion-vector scan: "), fp
        ))
        for pre in reversed(prefixes):
            rel = F.when(
                fp.startswith(pre),
                F.expr(f"substring(_metadata.file_path, {len(pre) + 1})"),
            ).otherwise(rel)
        return [rel.alias("__file"),
                F.col("_metadata.row_index").alias("__pos")]

    def _apply_pos_deletes(
        self, out: DataFrame, dvs: list[dict], drop: bool = True
    ) -> DataFrame:
        """Mask rows named by positional-delete entries (Iceberg v3's
        deletion vectors): one BROADCAST anti-join on the (file,
        position) identity. No sequence rule is needed — a DV pins
        exact rows of exact files, and files are never reused across
        commits (uuid dirs), so later-appended rows can't collide.
        ``out`` must carry the ``__file``/``__pos`` columns selected
        per entry via :meth:`_pos_exprs`. DV files are bounded by the
        deleted row count (sparse-delete contract — bulk deletes
        belong on the copy-on-write path), so the broadcast holds."""
        from pyspark.sql import functions as F

        dv = None
        for e in dvs:
            one = self.spark.read.parquet(
                os.path.join(self.warehouse, e["dir"])
            ).select("__file", "__pos")
            dv = one if dv is None else dv.unionByName(one)
        cond = (out["__file"] == dv["__file"]) & (out["__pos"] == dv["__pos"])
        out = out.join(F.broadcast(dv), cond, "left_anti")
        return out.drop("__file", "__pos") if drop else out

    def _apply_eq_deletes(self, out: DataFrame, deletes: list[dict]) -> DataFrame:
        """Mask rows matched by equality-delete entries: one BROADCAST
        anti-join per distinct key set (delete files are keys-only and
        small until :meth:`compact` repays them), restricted by the
        sequence rule — a delete masks only rows from data entries
        committed BEFORE it (``__entry_seq < delete seq``), so a key
        re-inserted after its deletion survives."""
        import functools

        from pyspark.sql import functions as F

        groups: dict[tuple, list[dict]] = {}
        for e in deletes:
            groups.setdefault(tuple(e["on"]), []).append(e)
        for key_cols, es in sorted(groups.items()):
            ddf = None
            for e in es:
                one = (
                    self.spark.read
                    .parquet(os.path.join(self.warehouse, e["dir"]))
                    .select(*key_cols)
                    .withColumn("__del_seq", F.lit(int(e["seq"])))
                )
                ddf = one if ddf is None else ddf.unionByName(one)
            cond = functools.reduce(
                lambda a, b: a & b, [out[k].eqNullSafe(ddf[k]) for k in key_cols]
            ) & (ddf["__del_seq"] > out["__entry_seq"])
            out = out.join(F.broadcast(ddf), cond, "left_anti")
        return out.drop("__entry_seq")

    # ------------------------------------------------------------ changelog
    _CHANGE_COLS = ("_change_type", "_commit_snapshot_id", "_change_ordinal")

    def changes(
        self,
        table: str,
        from_snapshot: str | float | int | datetime.datetime | None = None,
        to_snapshot: str | float | int | datetime.datetime | None = None,
        drop_carryovers: bool = True,
    ) -> DataFrame:
        """Row-level changelog between two snapshots — Iceberg's
        ``create_changelog_view`` for copy-on-write tables (the
        reference's SQLite store has no analog; it overwrites in
        place, ``src/datastore.py:148-212``).

        Returns the table's data columns plus ``_change_type``
        (``'insert'`` | ``'delete'``), ``_commit_snapshot_id``, and
        ``_change_ordinal`` (0-based commit position within the
        requested range). ``from_snapshot`` is EXCLUSIVE (None = table
        creation), ``to_snapshot`` INCLUSIVE (None = current pointer);
        both accept a snapshot id or a point in time, like ``as_of``.
        An update rewritten by :meth:`merge` surfaces as a delete of
        the old row plus an insert of the new one.

        Planning is metadata-only: each commit's change set is the
        difference of its and its parent's visible FILE sets (manifest
        dirs minus exclusions) — only files that actually entered or
        left the table are scanned, never the unchanged remainder.
        Copy-on-write rewrites (merge, compact) re-write untouched
        rows into new files; ``drop_carryovers`` (default, like
        Iceberg's changelog procedure) nets those out by multiset-
        subtracting each commit's deletes from its inserts — one
        content-keyed shuffle — so a pure :meth:`compact` yields an
        empty changelog and a merge yields exactly the touched rows.
        Pass ``drop_carryovers=False`` for the raw file-level churn
        (no shuffle; also the fallback when a column type is not
        groupable, e.g. maps).

        Each side of a commit reads under the schema of its own
        snapshot (deletes under the parent's, inserts under the
        commit's); across add-column evolution the union pads missing
        columns with nulls.

        Commits that touch merge-on-read equality deletes (the commit
        or its parent carries a delete entry) fall back from the
        file-set diff to a full STATE diff of commit vs parent — exact
        but heavier (two snapshot reads per such commit), and always
        netted (``drop_carryovers=False`` raises there). Compaction
        materializes the deletes away and restores the fast path.

        A ``from_snapshot`` that fell OFF the committed chain but is
        still alive — its log line preserved by a tag/branch ref
        through :meth:`expire_snapshots`, or stranded on a dead branch
        by :meth:`rollback` — degrades gracefully to ONE net diff of
        the two endpoint states instead of per-commit deltas: only
        files that entered or left between the endpoints are read, and
        the result is the exact netted row-level change from that
        state to this one (``_change_ordinal`` collapses to 0;
        ``drop_carryovers=False`` raises — per-commit churn no longer
        exists). This is what keeps an incremental consumer (e.g. a
        materialized-view refresh pinned by a ref) correct across any
        retention policy or a base rollback."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        hist = self.history(table)
        if not hist:
            raise LookupError(f"no committed table {table!r}")
        pos = {s.snapshot_id: i for i, s in enumerate(hist)}

        def _locate(bound, name: str) -> tuple[int | None, Snapshot]:
            # one _resolve per bound: unresolvable ids raise _resolve's
            # own LookupError; a resolvable snapshot returns with its
            # chain position (None when alive but OFF the chain —
            # ref-preserved through expiry, or a rollback dead branch)
            snap = self._resolve(table, bound)
            if snap is None:
                raise LookupError(
                    f"{name} snapshot {bound!r} is not in table {table!r}'s "
                    "committed history (staged, expired, or foreign)"
                )
            return pos.get(snap.snapshot_id), snap

        off_chain_from: Snapshot | None = None
        if from_snapshot is None:
            lo = -1
        else:
            lo, fs = _locate(from_snapshot, "from")
            if lo is None:
                if fs.staged:
                    raise LookupError(
                        f"from snapshot {from_snapshot!r} is not in table "
                        f"{table!r}'s committed history (staged, expired, "
                        "or foreign)"
                    )
                off_chain_from = fs
        if to_snapshot is None:
            hi = len(hist) - 1
        else:
            hi, _ = _locate(to_snapshot, "to")
            if hi is None:
                raise LookupError(
                    f"to snapshot {to_snapshot!r} is not in table "
                    f"{table!r}'s committed history (staged, expired, "
                    "or foreign)"
                )
        if off_chain_from is not None:
            if not drop_carryovers:
                raise ValueError(
                    "drop_carryovers=False is undefined from an off-chain "
                    f"from_snapshot {from_snapshot!r} (the per-commit churn "
                    "between the endpoints no longer exists); use the "
                    "default netted changelog"
                )
            # net endpoint diff: pseudo-history of exactly the two
            # resolvable states, the normal loop diffs them once (the
            # off-chain snapshot can never BE hist[hi] — an in-chain id
            # would have located above)
            hist = [off_chain_from, hist[hi]]
            lo, hi = 0, 1
        if hi < lo:
            raise ValueError(
                f"to_snapshot {to_snapshot!r} precedes from_snapshot "
                f"{from_snapshot!r} in table {table!r}'s history"
            )

        def _visible(snap: Snapshot) -> dict:
            # warehouse-relative file path -> its manifest ENTRY (whose
            # dir is the basePath that restores its partition columns,
            # and whose colmap/casts say how to project the file back
            # to the snapshot's logical schema). Equality-delete
            # entries are not data: commits touching them take the
            # state-diff path below instead.
            out: dict[str, dict] = {}
            for e in snap.state:
                if e.get("kind"):
                    continue
                absdir = os.path.join(self.warehouse, e["dir"])
                for p in self._entry_files(absdir, e["exclude"]):
                    out[os.path.relpath(p, self.warehouse)] = e
            return out

        def _has_deletes(snap: Snapshot) -> bool:
            return any(e.get("kind") for e in snap.state)

        def _schema_of(snap: Snapshot | None):
            if snap is None or not snap.schema_json:
                return None
            return StructType.fromJson(json.loads(snap.schema_json))

        def _tag(df: DataFrame, ctype: str, snap: Snapshot, ordinal: int) -> DataFrame:
            return df.withColumns({
                "_change_type": F.lit(ctype),
                "_commit_snapshot_id": F.lit(snap.snapshot_id),
                "_change_ordinal": F.lit(ordinal).cast("long"),
            })

        def _read_side(files: dict, schema, ctype: str, snap: Snapshot, ordinal: int):
            by_dir: dict[str, list[str]] = {}
            entry_of: dict[str, dict] = {}
            for rel, entry in files.items():
                by_dir.setdefault(entry["dir"], []).append(
                    os.path.join(self.warehouse, rel)
                )
                entry_of[entry["dir"]] = entry
            pieces = []
            for entry_dir, paths in sorted(by_dir.items()):
                entry = entry_of[entry_dir]
                proj = (
                    self._entry_projection(entry, schema)
                    if schema is not None else None
                )
                reader = self.spark.read.option(
                    "basePath", os.path.join(self.warehouse, entry_dir)
                )
                rs = proj[0] if proj else schema
                if rs is not None:
                    reader = reader.schema(rs)
                p = reader.parquet(*sorted(paths))
                if proj is not None:
                    p = p.select(*proj[1])
                pieces.append(p)
            return [_tag(p, ctype, snap, ordinal) for p in pieces]

        parts: list[DataFrame] = []
        mor_in_range = False
        prev_visible = _visible(hist[lo]) if lo >= 0 else {}
        for i in range(lo + 1, hi + 1):
            snap = hist[i]
            ordinal = i - (lo + 1)
            parent = hist[i - 1] if i > 0 else None
            if _has_deletes(snap) or (parent is not None and _has_deletes(parent)):
                # merge-on-read: an equality delete changes rows without
                # the file set saying WHICH rows, and any file-level diff
                # over a deleted-from entry would resurrect masked rows.
                # Diff the full table STATE of this commit vs its parent
                # instead (read_table applies the deletes); the netting
                # below reduces it to the true row-level change set.
                mor_in_range = True
                parts.append(_tag(self.read_table(table, as_of=snap.snapshot_id),
                                  "insert", snap, ordinal))
                if parent is not None:
                    parts.append(_tag(self.read_table(table, as_of=parent.snapshot_id),
                                      "delete", snap, ordinal))
                prev_visible = _visible(snap)
                continue
            cur_visible = _visible(snap)
            added = {f: d for f, d in cur_visible.items() if f not in prev_visible}
            removed = {f: d for f, d in prev_visible.items() if f not in cur_visible}
            parts += _read_side(added, _schema_of(snap), "insert", snap, ordinal)
            parts += _read_side(
                removed, _schema_of(parent), "delete", snap, ordinal
            )
            prev_visible = cur_visible
        if mor_in_range and not drop_carryovers:
            raise ValueError(
                "drop_carryovers=False is undefined across merge-on-read "
                "commits (equality deletes have no raw file-level churn); "
                "use the default netted changelog"
            )

        if not parts:
            base = _schema_of(hist[hi]) or StructType([])
            empty = StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_snapshot_id", StringType(), False),
                    StructField("_change_ordinal", LongType(), False),
                ]
            )
            return self.spark.createDataFrame([], empty)

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # hidden partition columns leak into raw file reads (Spark
        # appends dir columns); the changelog's contract is DATA
        # columns + change columns, so drop them across every spec in
        # the range
        drop_hidden = sorted({
            s["name"]
            for i in range(max(lo, 0), hi + 1)
            for s in self._hidden_of(hist[i].partition_spec or [])
            if s["name"] in out.columns
        })
        if drop_hidden:
            out = out.drop(*drop_hidden)
        # normalize to LOGICAL schema order: raw file reads of identity-
        # partitioned dirs append the partition column last, so without
        # this a changelog consumer sees a different column order than
        # read_table — breaking positional set ops against table reads
        # (columns a range-end schema no longer names, e.g. dropped by
        # evolution mid-range, follow in their union order)
        logical = _schema_of(hist[hi])
        if logical is not None:
            ordered = [f.name for f in logical.fields if f.name in out.columns]
            extras = [
                c for c in out.columns
                if c not in ordered and c not in self._CHANGE_COLS
            ]
            data_cols = ordered + extras
        else:
            data_cols = [c for c in out.columns if c not in self._CHANGE_COLS]
        out = out.select(*data_cols, *self._CHANGE_COLS)
        if not drop_carryovers:
            return out
        # net out copy-on-write carry-overs per commit: a row deleted
        # and re-inserted unchanged is rewrite churn, not a change
        net = (
            out.withColumn(
                "_sign",
                F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1)),
            )
            .groupBy(*data_cols, "_commit_snapshot_id", "_change_ordinal")
            .agg(F.sum("_sign").alias("_net"))
            .where(F.col("_net") != 0)
        )
        return (
            net.withColumn(
                "_change_type",
                F.when(F.col("_net") > 0, F.lit("insert")).otherwise(F.lit("delete")),
            )
            # a commit can insert N identical rows: emit |net| copies
            .withColumn("_dup", F.explode(F.sequence(F.lit(1), F.abs(F.col("_net")))))
            .select(*data_cols, *self._CHANGE_COLS)
        )

    # -------------------------------------------------------------- compact
    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 2**20,
        partition_by: list[str] | None | str = "auto",
        zorder_by: list[str] | None = None,
    ) -> Snapshot:
        """Rewrite the current table state into ~``target_file_bytes``
        files — Iceberg's ``rewrite_data_files`` maintenance action.
        Long-running append/replace workloads accrete small files (every
        micro-batch or resumed group writes its own); scan planning then
        pays per-file open cost. Compaction commits ONE fresh snapshot
        with the same rows (old snapshots stay readable until expiry).
        Sized from the actual on-disk bytes of the live snapshot, not a
        row-count guess.

        ``partition_by="auto"`` (default) PRESERVES the live layout,
        sniffed from the hive-style ``col=value`` path of a live data
        file — compacting a (route, day)-partitioned sink keeps the
        directory structure partition pruning depends on. Pass an
        explicit list to re-partition, or ``None`` to flatten."""
        snap = self.snapshot(table)
        if snap is None:
            raise LookupError(f"no committed table {table!r}")
        if partition_by == "auto" and self._hidden_of(snap.partition_spec or []):
            # hidden-partitioned table: preserve the SPEC, not the
            # physical dir names (reads drop the hidden columns, so
            # repartitioning by dir name would miss; write_table
            # re-derives them from the transform strings)
            partition_by = self._spec_strings(snap.partition_spec)
        elif partition_by == "auto":
            partition_by = self._current_partitioning(snap) or None
        # live bytes from the snapshot state; equality-delete entries
        # are excluded twice over: their bytes are masks, not rows
        # (sizing), and read_table below applies them — so compaction
        # MATERIALIZES merge-on-read deletes away (the new overwrite
        # state carries no delete entries)
        live_bytes = 0
        for e in snap.state:
            if e.get("kind"):
                continue
            # sized through _entry_files so dir- AND file-level masks
            # (replace_partitions / delete_where) both count correctly
            live_bytes += sum(
                os.path.getsize(f)
                for f in self._entry_files(os.path.join(self.warehouse, e["dir"]), e["exclude"])
            )
        n_files = max(1, -(-live_bytes // target_file_bytes))  # ceil
        df = self.read_table(table)
        if zorder_by:
            # rewrite_data_files(strategy='sort', sort_order=zorder(...)):
            # cluster on the Morton key so min/max skipping fires on
            # EVERY zorder column, then record those columns' stats
            from .operators.zorder import cluster_zorder

            df = cluster_zorder(df, zorder_by, n_partitions=n_files)
        elif partition_by:
            # cluster by the partition VALUES (for transforms, the
            # derived expression — write_table re-derives the same
            # values for the physical layout)
            _names, cspec = self._parse_partition_spec(list(partition_by))
            df = df.repartition(n_files, *[self._transform_col(s) for s in cspec])
        else:
            df = df.repartition(n_files)
        return self.write_table(
            df,
            table,
            mode="overwrite",
            partition_by=partition_by,
            stats_cols=zorder_by,
            lineage={"stage": "compact", "target_file_bytes": target_file_bytes,
                     **({"zorder_by": zorder_by} if zorder_by else {})},
            # recount: the pointer snapshot's row_count is the last
            # DELTA's count after append/replace commits, not the table's
            row_count=None,
        )

    def compact_partitions(
        self,
        table: str,
        partition_filter: dict,
        target_file_bytes: int = 128 * 2**20,
        lineage: dict | None = None,
        zorder_by: list[str] | None = None,
    ) -> Snapshot:
        """Partition-scoped compaction — Iceberg's ``rewrite_data_files``
        with a filter. :meth:`compact` rewrites the WHOLE table; at
        100 TB that is never what maintenance does — a streaming sink
        accretes small files only in the partitions it recently wrote,
        so the nightly job compacts ``{"day": <yesterday>}`` and leaves
        the other 10,000 partitions untouched (carried by reference,
        zero read or write amplification on them).

        ``partition_filter`` maps PHYSICAL partition-directory names
        (for hidden transforms, the derived name, e.g. ``ts_day``) to
        values; a live file is in scope iff every ``col=value`` segment
        appears on its path. The scoped rows are read under the current
        logical schema (per-entry colmap/cast projection), pending
        delete sidecars are applied — so the rewrite MATERIALIZES
        merge-on-read debt for the scoped partitions only — and land
        as ONE new entry sized from the scoped bytes; the old files
        are masked file-granularly on their entries, exactly the
        :meth:`delete_where` carry-forward shape. Rewritten rows
        escape re-masking by construction: deletion vectors pin old
        (file, pos) identities, and the new entry's sequence number
        postdates every pending equality delete. ``zorder_by``
        Morton-clusters just the scoped rewrite (min/max stats
        recorded on those columns) — the nightly job that z-orders
        yesterday's partition without touching the archive."""
        from pyspark.sql import functions as F

        if not partition_filter:
            raise ValueError(
                "partition_filter is required; use compact() for the whole table"
            )
        prev = self.snapshot(table)
        if prev is None or not prev.state:
            raise LookupError(f"no committed snapshot table {table!r}")
        part_names = self._current_partitioning(prev)
        unknown = [c for c in partition_filter if c not in part_names]
        if unknown:
            raise ValueError(
                f"{unknown} are not partition columns of {table!r}; "
                f"live layout is {part_names or 'flat'}"
            )
        need = {
            self._leaf_path([c], (v,)) for c, v in partition_filter.items()
        }
        _schema, _hidden, scan_schema = self._scan_schema_of(prev)
        dv_entries = [e for e in prev.state if e.get("kind") == "pos_deletes"]
        eq_entries = [e for e in prev.state if e.get("kind") == "eq_deletes"]

        seq = prev.sequence + 1
        new_state: list[dict] = []
        rewrite = None
        scoped_bytes = 0
        stats_cols: set[str] = set()
        masked_wh: set[str] = set()
        leaves: set[str] = set()
        bloom_meta: dict | None = None
        for e in prev.state:
            if e.get("kind"):
                new_state.append(e)
                continue
            absdir = os.path.join(self.warehouse, e["dir"])
            hit = [
                f for f in self._entry_files(absdir, e["exclude"])
                if need <= set(os.path.relpath(f, absdir).split(os.sep))
            ]
            if not hit:
                new_state.append(e)
                continue
            scoped_bytes += sum(os.path.getsize(f) for f in hit)
            rels = sorted(os.path.relpath(f, absdir) for f in hit)
            masked_wh |= {os.path.join(e["dir"], r) for r in rels}
            leaves |= {os.path.dirname(r) for r in rels}
            new_state.append({**e, "exclude": sorted(set(e["exclude"]) | set(rels))})
            bloom_meta = self._accumulate_skip_meta(e, stats_cols, bloom_meta)
            d = self._open_entry_files(absdir, hit, e, scan_schema)
            if dv_entries:
                d = d.select("*", *self._pos_exprs())
            d = d.withColumn("__entry_seq", F.lit(int(e.get("seq", 0))))
            rewrite = d if rewrite is None else rewrite.unionByName(d)
        if rewrite is None:
            return prev
        rewrite = self._apply_delete_sidecars(rewrite, dv_entries, eq_entries)
        if dv_entries:
            # the rewrite materialized the scoped debt; retire dead DV rows
            new_state = self._pruned_dv_state(new_state, masked_wh, seq, table)

        n_files = max(1, -(-scoped_bytes // target_file_bytes))  # ceil
        if zorder_by:
            # scoped z-order: cluster ONLY the rewritten partitions on
            # the Morton key (the nightly shape — yesterday's partition
            # gets point-lookup clustering, the rest stays untouched);
            # record those columns' stats so skipping fires on them
            from .operators.zorder import cluster_zorder

            rewrite = cluster_zorder(rewrite, zorder_by, n_partitions=n_files)
            stats_cols |= set(zorder_by)
        else:
            # the scope usually pins the partition key to ONE value, so
            # hashing on part_names alone would collapse to one task ⇒
            # one giant file; spread each leaf over ceil(n_files/leaves)
            # deterministic content-hash buckets so target_file_bytes
            # is honored INSIDE the scoped partitions too
            per_leaf = max(1, -(-n_files // max(1, len(leaves))))
            if per_leaf > 1:
                spread = F.pmod(
                    F.xxhash64(*[F.col(c) for c in rewrite.columns]),
                    F.lit(per_leaf),
                )
                rewrite = rewrite.repartition(
                    n_files, *[F.col(c) for c in part_names], spread
                )
            else:
                rewrite = rewrite.repartition(
                    min(n_files, max(1, len(leaves))),
                    *[F.col(c) for c in part_names],
                )

        snap_id = uuid.uuid4().hex[:16]
        rel_dir = f"{table}/snap-{seq:05d}-{snap_id}"
        abs_dir = os.path.join(self.warehouse, rel_dir)
        writer = rewrite.write.mode("overwrite")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(abs_dir)
        row_count = self._dir_row_count(abs_dir)

        new_entry = self._skip_meta_entry(
            {"dir": rel_dir, "exclude": [], "seq": seq},
            abs_dir, row_count, stats_cols, bloom_meta,
        )
        snap = Snapshot(
            snapshot_id=snap_id,
            table=table,
            row_count=row_count,
            committed_at_unix=time.time(),
            lineage={
                "stage": "compact_partitions",
                "partition_filter": {k: str(v) for k, v in partition_filter.items()},
                "target_file_bytes": target_file_bytes,
                **({"zorder_by": list(zorder_by)} if zorder_by else {}),
                **(lineage or {}),
            },
            parent_id=prev.snapshot_id,
            op="compact-partitions",
            state=new_state + [new_entry],
            sequence=seq,
            schema_json=prev.schema_json,
            partition_spec=list(prev.partition_spec or []),
            summary=self._dir_summary([abs_dir], row_count, len(new_state) + 1),
        )
        return self._commit(table, snap)

    def _current_partitioning(self, snap: Snapshot) -> list[str]:
        """The table's live partition columns, sniffed from the newest
        manifest entry's first live data file (hive-style ``col=value``
        path segments). Empty for flat layouts."""
        for e in reversed(snap.state):
            if e.get("kind"):
                continue  # keys-only / DV sidecar, never partitioned
            absdir = os.path.join(self.warehouse, e["dir"])
            files = self._entry_files(absdir, e["exclude"])
            if not files:
                continue
            rel = os.path.relpath(os.path.dirname(files[0]), absdir)
            if rel == ".":
                return []
            return [seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg]
        return []

    # --------------------------------------------------------------- expire
    def expire_snapshots(
        self, table: str, keep_last: int = 1, older_than=None
    ) -> list[str]:
        """Drop old snapshots; delete data directories no live snapshot
        references. Returns removed dirs. ``keep_last`` always retains
        the newest N regardless of age (Iceberg's ``retain_last``);
        ``older_than`` (snapshot id / epoch / ISO-8601 / datetime, like
        ``as_of``) additionally retains EVERY snapshot committed at or
        after that instant — the time-based retention policy a 100 TB
        store actually runs ("expire anything older than 7 days, keep
        at least the last 1"). With ``older_than`` alone, recent
        history stays time-travelable no matter how many commits
        landed."""
        import shutil

        with self._log_lock(table):
            return self._expire_locked(table, keep_last, shutil, older_than)

    def _expire_locked(
        self, table: str, keep_last: int, shutil, older_than=None
    ) -> list[str]:
        hist = self.history(table)
        if len(hist) <= keep_last:
            return []
        # keep_last=0 means "no newest-N floor" (pure age-based
        # retention with older_than; the pointer snapshot is always
        # re-added below) — hist[-0:] would silently keep EVERYTHING
        keep = hist[len(hist) - keep_last:] if keep_last > 0 else []
        drop = hist[:len(hist) - keep_last] if keep_last > 0 else list(hist)
        if older_than is not None:
            cutoff = self._as_epoch(older_than)
            if cutoff is None:  # a snapshot id: expire strictly before it
                ref = self._resolve(table, older_than)
                ids = [s.snapshot_id for s in hist]
                if ref is None or ref.snapshot_id not in ids:
                    raise LookupError(
                        f"older_than {older_than!r} is not a snapshot or "
                        f"instant of table {table!r}"
                    )
                cutoff = ref.committed_at_unix
            young = [s for s in drop if s.committed_at_unix >= cutoff]
            keep = young + keep
            drop = [s for s in drop if s.committed_at_unix < cutoff]
            if not drop:
                return []
        # Belt-and-braces vs history()/pointer divergence: the pointer
        # snapshot's directories must survive expiry no matter what.
        pointer = self.snapshot(table)
        if pointer is not None and pointer.snapshot_id not in {s.snapshot_id for s in keep}:
            keep = keep + [pointer]
            drop = [s for s in drop if s.snapshot_id != pointer.snapshot_id]
        # a pending write-audit-publish stage survives expiry: its log
        # line stays (or publish() would dangle) and every dir it
        # references — including dirs inherited from now-expired parents
        # — stays on disk
        kept_ids = {s.snapshot_id for s in keep}
        pending = [
            s for s in self._pending_stages(table) if s.snapshot_id not in kept_ids
        ]
        # tagged snapshots are retention anchors: their log lines and
        # dirs survive expiry until remove_tag, like Iceberg tag refs
        anchored_ids = kept_ids | {s.snapshot_id for s in pending}
        tagged = [
            s for s in self._ref_pinned_snapshots(table)
            if s.snapshot_id not in anchored_ids
        ]
        keep_lines = keep + pending + tagged
        live = {e["dir"] for s in keep_lines for e in s.state}
        # commit the truncated log FIRST (tmp + atomic rename, same as
        # the write path), THEN delete data. A crash in between leaks
        # directories (harmless, re-collectable) — the reverse order
        # would leave history entries pointing at deleted data, turning
        # the designed LookupError into a PATH_NOT_FOUND read failure.
        lpath = self._log_path(table)
        tmp = f"{lpath}.tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            for s in keep_lines:
                f.write(json.dumps(asdict(s)) + "\n")
        os.replace(tmp, lpath)
        removed = []
        for s in drop:
            for e in s.state:
                if e["dir"] not in live and os.path.isdir(
                    os.path.join(self.warehouse, e["dir"])
                ):
                    shutil.rmtree(os.path.join(self.warehouse, e["dir"]))
                    removed.append(e["dir"])
        return sorted(set(removed))

    # ------------------------------------------------- rollback / orphans
    def rollback(
        self, table: str, snapshot_id: str | float | int | datetime.datetime
    ) -> Snapshot:
        """Iceberg's ``rollback_to_snapshot``: atomically flip the table
        pointer back to an ANCESTOR snapshot. No data moves — the
        rolled-back-over snapshots become a dead branch that
        :meth:`history` (a parent-chain walk from the pointer) stops
        reporting, and the next commit parents onto the restored
        snapshot. Dead-branch data directories stay on disk (time
        travel to them is gone, but readers mid-scan are unaffected)
        until :meth:`remove_orphan_files` collects them.

        Only ancestors of the CURRENT pointer are valid targets —
        rolling "forward" to an abandoned branch would silently revive
        rows a previous rollback discarded, and rolling onto a pending
        STAGED snapshot would bypass :meth:`publish`'s validation;
        Iceberg rejects both, so the lookup is explicitly over
        :meth:`history`, never the staged-id fallback of ``_resolve``.
        """
        with self._log_lock(table):
            # resolve and flip under one lock, so the ancestor check
            # holds against the pointer actually being replaced
            hist = self.history(table)
            target = next((s for s in hist if s.snapshot_id == snapshot_id), None)
            if target is None:
                # rollback_to_timestamp: last ancestor at or before the
                # instant (id-shaped strings never parse as times, so an
                # expired/staged/abandoned id still raises below)
                t = self._as_epoch(snapshot_id)
                if t is not None:
                    target = self._snapshot_at(hist, t)
            if target is None:
                raise LookupError(
                    f"snapshot {snapshot_id!r} is not an ancestor of table {table!r}'s "
                    "pointer (staged, abandoned-branch, or expired ids are not valid "
                    "rollback targets)"
                )
            self._flip_pointer(table, target)
        return target

    def _pending_stages(self, table: str) -> list[Snapshot]:
        """Write-audit-publish snapshots still awaiting :meth:`publish`:
        staged log lines whose snapshot_id never got an unstaged
        (published) line. Their data dirs — including dirs inherited
        from parent snapshots — must survive expiry and orphan sweeps."""
        entries = self._log_entries(table)
        published = {s.snapshot_id for s in entries if not s.staged}
        return [s for s in entries if s.staged and s.snapshot_id not in published]

    def remove_orphan_files(
        self, table: str, older_than_s: float = 3600.0, sweep_staged: bool = False
    ) -> list[str]:
        """Iceberg's ``remove_orphan_files``: delete ``snap-*``
        directories under the table root that no snapshot reachable
        from the committed pointer references. Three ways a table
        accretes them: a crash AFTER the data write but BEFORE the
        pointer flip (the designed crash window of
        :meth:`write_table`), a crash between :meth:`expire_snapshots`'
        log truncation and its directory deletes, and a
        :meth:`rollback` dead branch. Age-guarded exactly like Iceberg
        (default 1 h): a concurrent in-flight write's directory is
        younger than the guard, so it is never swept out from under
        the committer. A staged (write-audit-publish) snapshot awaiting
        :meth:`publish` is protected regardless of age unless
        ``sweep_staged=True``, which first ABANDONS every pending stage
        (log line dropped via :meth:`abandon_stage`, so no dangling
        publishable id can point at deleted data) and then sweeps.
        Returns warehouse-relative removed dirs."""
        import shutil

        removed = []
        if sweep_staged:
            # drop the log lines BEFORE deleting anything: a staged line
            # surviving its data dir would still resolve and publish,
            # flipping the pointer onto missing files
            for s in self._pending_stages(table):
                removed += self.abandon_stage(table, s.snapshot_id)
        live = {e["dir"] for s in self.history(table) for e in s.state}
        pointer = self.snapshot(table)  # belt-and-braces vs log divergence
        if pointer is not None:
            live |= {e["dir"] for e in pointer.state}
        live |= {e["dir"] for s in self._pending_stages(table) for e in s.state}
        # tagged snapshots stay collectable-proof even on dead branches
        live |= {e["dir"] for s in self._ref_pinned_snapshots(table) for e in s.state}
        root = self.path(table)
        if not os.path.isdir(root):
            return removed
        now = time.time()
        for name in sorted(os.listdir(root)):
            absdir = os.path.join(root, name)
            rel = f"{table}/{name}"
            if not name.startswith("snap-") or not os.path.isdir(absdir):
                continue  # flat-layout parquet or foreign files: not ours
            if rel in live:
                continue
            age = now - max(
                (os.path.getmtime(os.path.join(r, fn)) for r, _d, fns in os.walk(absdir) for fn in fns),
                default=os.path.getmtime(absdir),
            )
            if age < older_than_s:
                continue  # possibly an in-flight write
            shutil.rmtree(absdir)
            removed.append(rel)
        return removed

    # --------------------------------------------------- metadata tables
    @staticmethod
    def _entry_files(absdir: str, exclude: list[str]) -> list[str]:
        """Live parquet files of one manifest entry: every file under
        the entry's directory whose partition subpath is not masked by
        an ``exclude`` prefix (the manifest-level partition
        replacement of :meth:`write_table`). An exclude item ending in
        ``.parquet`` masks that exact FILE (warehouse-entry-relative
        path) — the file-granular copy-on-write mask that
        :meth:`delete_where` / :meth:`update_where` commit so every
        untouched file carries over by reference. This is the single
        choke point for mask interpretation: scan planning, the
        changelog diff, metadata tables, and compaction sizing all
        list files through here, so a mask added by any commit path is
        honored everywhere at once."""
        excl_dirs = tuple(e + os.sep for e in exclude if not e.endswith(".parquet"))
        excl_files = {e for e in exclude if e.endswith(".parquet")}
        return [
            os.path.join(root, fn)
            for root, _d, fns in os.walk(absdir)
            for fn in fns
            if fn.endswith(".parquet")
            and not (
                excl_dirs
                and (os.path.relpath(root, absdir) + os.sep).startswith(excl_dirs)
            )
            and os.path.relpath(os.path.join(root, fn), absdir) not in excl_files
        ]

    def files_metadata(
        self, table: str, as_of: str | float | int | datetime.datetime | None = None
    ) -> DataFrame:
        """Iceberg's ``<table>.files`` metadata table: one row per LIVE
        data file at the snapshot — (file_path, snapshot_dir,
        partition, size_bytes), paths warehouse-relative. Driver-built
        from the manifests (metadata-sized, like an Iceberg manifest
        scan — never opens data files); masked partition subtrees of
        replaced directories are excluded exactly as scan planning
        excludes them."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        snap = self._resolve(table, as_of)
        if snap is None:
            raise LookupError(f"no committed table {table!r}")
        rows = []
        for e in snap.state:
            absdir = os.path.join(self.warehouse, e["dir"])
            content = e.get("kind") or "data"
            for p in self._entry_files(absdir, e["exclude"]):
                relroot = os.path.relpath(os.path.dirname(p), absdir)
                rows.append((
                    os.path.relpath(p, self.warehouse),
                    e["dir"],
                    "" if relroot == "." else relroot,
                    os.path.getsize(p),
                    content,
                ))
        schema = StructType([
            StructField("file_path", StringType(), False),
            StructField("snapshot_dir", StringType(), False),
            StructField("partition", StringType(), False),
            StructField("size_bytes", LongType(), False),
            # Iceberg's files.content: data vs equality-deletes
            StructField("content", StringType(), False),
        ])
        return self.spark.createDataFrame(rows, schema)

    def partitions_metadata(
        self, table: str, as_of: str | float | int | datetime.datetime | None = None
    ) -> DataFrame:
        """Iceberg's ``<table>.partitions``: per-partition file count
        and byte size at the snapshot (empty-string partition = the
        unpartitioned root). The small-file diagnosis input: a
        partition whose file_count is large and avg file size small is
        a :meth:`compact` candidate."""
        from pyspark.sql import functions as F

        return (
            self.files_metadata(table, as_of)
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("size_bytes").alias("size_bytes"),
            )
        )

    def refs_metadata(self, table: str) -> DataFrame:
        """Iceberg's ``<table>.refs``: one row per named ref —
        (name, type, snapshot_id, in_history). ``in_history`` is False
        for a tag stranded on a dead branch by a rollback (still
        readable by name, still retention-protected)."""
        from pyspark.sql.types import BooleanType, StringType, StructField, StructType

        hist_ids = {s.snapshot_id for s in self.history(table)}
        refs = self._load_refs(table)
        rows = [
            (name, "tag", sid, sid in hist_ids)
            for name, sid in sorted(refs["tags"].items())
        ] + [
            (name, "branch", sid, sid in hist_ids)
            for name, sid in sorted(refs["branches"].items())
        ]
        schema = StructType([
            StructField("name", StringType(), False),
            StructField("type", StringType(), False),
            StructField("snapshot_id", StringType(), False),
            StructField("in_history", BooleanType(), False),
        ])
        return self.spark.createDataFrame(rows, schema)

    def snapshots_metadata(self, table: str) -> DataFrame:
        """Iceberg's ``<table>.snapshots``: the committed history as a
        DataFrame — (snapshot_id, parent_id, sequence, op, row_count,
        committed_at_unix, lineage_json), oldest first by sequence."""
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        rows = [
            (s.snapshot_id, s.parent_id, s.sequence, s.op, s.row_count,
             float(s.committed_at_unix), json.dumps(s.lineage, sort_keys=True),
             json.dumps(s.summary, sort_keys=True))
            for s in self.history(table)
        ]
        schema = StructType([
            StructField("snapshot_id", StringType(), False),
            StructField("parent_id", StringType(), True),
            StructField("sequence", LongType(), False),
            StructField("op", StringType(), False),
            StructField("row_count", LongType(), False),
            StructField("committed_at_unix", DoubleType(), False),
            StructField("lineage_json", StringType(), False),
            StructField("summary_json", StringType(), False),
        ])
        return self.spark.createDataFrame(rows, schema)
