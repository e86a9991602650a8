"""CLI entry — ``python -m log_parser_project_spark <command>``.

Command-for-command parity with the reference's two CLIs:

* ``src/app.py`` (``list / versions / query / search`` over the schema
  store, `app.py:282-381`) → the same commands over the pattern
  registry and routed sinks;
* ``python -m hex_decoder_module.cli --input pkt.hex`` (one-shot
  packet decode, ``cli.py:19-53``) → ``decode`` over a hex file using
  the schema-table-driven decoder in ``sources/hex_ingest``;
* ``app.py parse <pdf>`` (build the store) → ``run`` (the pipeline
  itself, same flags as ``jobs/run_pipeline.py``).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m log_parser_project_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="pattern classes with versions and routes")

    p_v = sub.add_parser("versions", help="version map of one pattern class")
    p_v.add_argument("pattern_class")

    p_q = sub.add_parser("query", help="field layout of one pattern version")
    p_q.add_argument("pattern_class")
    p_q.add_argument("version", type=int, nargs="?", default=1)

    p_s = sub.add_parser("search", help="LIKE search over classes/routes/fields")
    p_s.add_argument("term")

    p_sink = sub.add_parser("sinks", help="per-sink summary of a warehouse")
    p_sink.add_argument("--warehouse", required=True)

    p_rev = sub.add_parser(
        "revisions",
        help="registry revision history: by month/year or by pattern class "
             "(reference app.py revision_date/revision_logcode commands)",
    )
    p_rev.add_argument("--month", help='month name, e.g. "February"')
    p_rev.add_argument("--year", help='year, e.g. "2026"')
    p_rev.add_argument("--pattern-class", help="class to trace through revisions")

    p_m = sub.add_parser(
        "mine",
        help="discover the template inventory of a raw text-log directory "
             "(Drain-style masking; the bootstrap for a registry)",
    )
    p_m.add_argument("--input-text", required=True, help="log directory (one file per stream)")
    p_m.add_argument("--limit", type=int, default=50, help="top templates by line count")
    p_m.add_argument("--approx", action="store_true",
                     help="HLL distinct-file counts (the 100 TB path)")

    p_mt = sub.add_parser(
        "maintain",
        help="table maintenance — the Iceberg procedures (rollback_to_snapshot, "
             "rewrite_data_files, expire_snapshots, remove_orphan_files) plus "
             "the files/partitions/snapshots metadata tables",
    )
    p_mt.add_argument("--warehouse", required=True)
    p_mt.add_argument("--table", required=True)
    p_mt.add_argument("--rollback", metavar="SNAPSHOT_ID_OR_TIME",
                      help="flip the pointer back to an ancestor snapshot "
                           "(id, epoch seconds, or ISO-8601 instant)")
    p_mt.add_argument("--publish", metavar="SNAPSHOT_ID",
                      help="publish a pending write-audit-publish stage")
    p_mt.add_argument("--abandon", metavar="SNAPSHOT_ID",
                      help="drop a pending write-audit-publish stage")
    p_mt.add_argument("--compact", action="store_true",
                      help="rewrite live data into ~target-file-mb files")
    p_mt.add_argument("--target-file-mb", type=int, default=128)
    p_mt.add_argument("--partition-by", metavar="COL[,COL...]",
                      help="re-partition on these columns through --compact; "
                           "default preserves the table's live layout")
    p_mt.add_argument("--zorder", metavar="COL[,COL...]",
                      help="sort-clustered compaction on the Morton key of these "
                           "columns (implies --compact)")
    p_mt.add_argument("--compact-partition", metavar="COL=VALUE",
                      action="append",
                      help="compact only the partitions matching this "
                           "col=value (repeatable; conjunctive); the rest "
                           "of the table carries by reference")
    p_mt.add_argument("--expire-keep", type=int, metavar="N",
                      help="expire all but the last N snapshots")
    p_mt.add_argument("--expire-older-than", metavar="INSTANT",
                      help="expire snapshots committed before this instant "
                           "(epoch seconds, ISO-8601, or a snapshot id); "
                           "younger ones are all retained — combine with "
                           "--expire-keep N (default 1) for the newest-N floor")
    p_mt.add_argument("--orphans-older-than", type=float, metavar="SECONDS",
                      help="sweep unreferenced snap-* dirs older than this")
    p_mt.add_argument("--create-tag", metavar="NAME",
                      help="tag the current snapshot (immutable named ref; "
                           "survives expiry/orphan sweeps until removed)")
    p_mt.add_argument("--tag-at", metavar="SNAPSHOT_ID_OR_TIME",
                      help="tag this snapshot instead of the current one")
    p_mt.add_argument("--remove-tag", metavar="NAME",
                      help="drop a tag (its snapshot becomes expirable)")
    p_mt.add_argument("--create-branch", metavar="NAME",
                      help="cut a movable branch ref at the current snapshot "
                           "(write_table(branch=...) then commits onto it)")
    p_mt.add_argument("--fast-forward", metavar="BRANCH",
                      help="publish a branch: move the main pointer to its "
                           "head (rejected if main diverged)")
    p_mt.add_argument("--remove-branch", metavar="NAME",
                      help="drop a branch ref (unpublished commits orphan)")
    p_mt.add_argument("--show", choices=["files", "partitions", "snapshots", "refs"],
                      help="print a metadata table after the actions")

    p_ch = sub.add_parser(
        "changes",
        help="row-level changelog between two snapshots (Iceberg's "
             "create_changelog_view): inserts/deletes per commit, "
             "copy-on-write carryovers netted out",
    )
    p_ch.add_argument("--warehouse", required=True)
    p_ch.add_argument("--table", required=True)
    p_ch.add_argument("--from", dest="from_snapshot", metavar="SNAPSHOT_ID_OR_TIME",
                      help="exclusive lower bound (default: table creation)")
    p_ch.add_argument("--to", dest="to_snapshot", metavar="SNAPSHOT_ID_OR_TIME",
                      help="inclusive upper bound (default: current snapshot)")
    p_ch.add_argument("--keep-carryovers", action="store_true",
                      help="raw file-level churn: rewritten-but-unchanged rows too")
    p_ch.add_argument("--limit", type=int, default=1000)

    p_au = sub.add_parser(
        "audit",
        help="evaluate a declarative expectations suite (JSON list of "
             "specs; see expectations.py) against a table — one "
             "aggregate pass; exit 1 on violations",
    )
    p_au.add_argument("--warehouse", required=True)
    p_au.add_argument("--table", required=True)
    p_au.add_argument("--suite", required=True,
                      help="JSON file: list of expectation specs; a "
                           "referential spec's 'dim' names another table "
                           "in the same warehouse")
    p_au.add_argument("--as-of", dest="as_of", default=None,
                      help="audit a past or STAGED snapshot (id or instant) "
                           "instead of the current one")

    p_mv = sub.add_parser(
        "matview",
        help="incremental materialized views (plans/matview.py): "
             "create a COUNT/SUM aggregate view over a base table, "
             "refresh it O(delta) from the base changelog, compact "
             "its delta rows, report freshness, print contents",
    )
    p_mv.add_argument("--warehouse", required=True)
    p_mv.add_argument("--view", required=True)
    p_mv.add_argument("--create-over", metavar="BASE_TABLE",
                      help="create the view over this base table "
                           "(requires --group-by; the only full base "
                           "scan the view ever takes)")
    p_mv.add_argument("--replace", action="store_true",
                      help="allow --create-over to rebuild an "
                           "existing view (refused otherwise)")
    p_mv.add_argument("--group-by", metavar="COL[,COL...]",
                      help="grouping keys for --create-over")
    p_mv.add_argument("--sum", metavar="OUT=SRC", action="append",
                      help="SUM measure: output column OUT = SUM(base "
                           "column SRC); repeatable; COUNT(*) n_rows "
                           "is always included")
    p_mv.add_argument("--refresh", action="store_true",
                      help="fold base commits since the view's pin "
                           "into one signed-delta append (no-op when "
                           "the base hasn't advanced)")
    p_mv.add_argument("--compact", action="store_true",
                      help="consolidate delta rows to one per group "
                           "(the pin stays put)")
    p_mv.add_argument("--status", action="store_true",
                      help="freshness: pinned vs current base "
                           "snapshot and commit lag, metadata-only")
    p_mv.add_argument("--print", dest="show_rows", action="store_true",
                      help="print the netted view contents")
    p_mv.add_argument("--limit", type=int, default=1000,
                      help="row cap for --print (a view grouped by a "
                           "high-cardinality key can be huge)")

    p_si = sub.add_parser(
        "searchindex",
        help="incrementally-maintained BM25 search index "
             "(plans/searchindex.py): build the inverted index over a "
             "document table once, refresh it O(changed docs) from the "
             "base changelog, and run ranked queries without touching "
             "the corpus",
    )
    p_si.add_argument("--warehouse", required=True)
    p_si.add_argument("--index", required=True,
                      help="index name (owns the <index>_postings and "
                           "<index>_docs view tables)")
    p_si.add_argument("--create-over", metavar="BASE_TABLE",
                      help="build the index over this table (the only "
                           "full corpus scan it ever takes)")
    p_si.add_argument("--id-col", default="doc_id")
    p_si.add_argument("--text-col", default="text")
    p_si.add_argument("--replace", action="store_true",
                      help="allow --create-over to rebuild an existing "
                           "index (refused otherwise)")
    p_si.add_argument("--refresh", action="store_true",
                      help="advance both index views to the base "
                           "table's current snapshot (idempotent; "
                           "rerun after any failure to converge)")
    p_si.add_argument("--status", action="store_true",
                      help="freshness + cross-view consistency, "
                           "metadata-only")
    p_si.add_argument("--query", action="append", metavar="TEXT",
                      help="free-text query; repeatable (query_id = "
                           "position)")
    p_si.add_argument("--k", type=int, default=10,
                      help="results per query for --query")

    p_vi = sub.add_parser(
        "vectorindex",
        help="incrementally-maintained IVF vector index "
             "(plans/vectorindex.py): train centroids and build cell "
             "postings over an embedding table once, refresh O(changed "
             "vectors) from the base changelog, and answer cosine "
             "top-k without rescanning the corpus",
    )
    p_vi.add_argument("--warehouse", required=True)
    p_vi.add_argument("--index", required=True,
                      help="index name (owns the <index>_cells view table)")
    p_vi.add_argument("--create-over", metavar="BASE_TABLE",
                      help="build the index over this table (the only "
                           "full corpus scan it ever takes)")
    p_vi.add_argument("--id-col", default="vec_id")
    p_vi.add_argument("--vec-col", default="embedding")
    p_vi.add_argument("--cells", type=int, default=16,
                      help="IVF cell count for --create-over")
    p_vi.add_argument("--kmeans-iters", type=int, default=3)
    p_vi.add_argument("--replace", action="store_true",
                      help="allow --create-over to rebuild an existing "
                           "index (refused otherwise); re-train = recreate")
    p_vi.add_argument("--refresh", action="store_true",
                      help="advance the index to the base table's "
                           "current snapshot (no-op when it hasn't moved)")
    p_vi.add_argument("--compact", action="store_true",
                      help="consolidate delta rows to one per live posting")
    p_vi.add_argument("--status", action="store_true",
                      help="freshness + quantizer shape, metadata-only")
    p_vi.add_argument("--query-id", action="append", metavar="ID",
                      help="query by a vector already in the base table "
                           "(looked up by id, matched against the id "
                           "column rendered as text — works for integer "
                           "AND string id columns); repeatable")
    p_vi.add_argument("--k", type=int, default=5,
                      help="neighbors per query for --query-id")
    p_vi.add_argument("--n-probe", type=int, default=None,
                      help="cells probed per query (default: all — "
                           "exact mode)")

    p_d = sub.add_parser("decode", help="decode one hex packet file to JSON")
    p_d.add_argument("--input", required=True, help="hex text file (Length:/Header:/Payload:)")
    p_d.add_argument(
        "--metadata", required=True,
        help="schema-registry JSON (version layouts) — the reference's "
             "pre-generated-metadata decode path",
    )
    p_d.add_argument("-o", "--output", default=None)

    args = ap.parse_args(argv)

    from . import query_helpers as qh
    from .session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")
    if args.cmd == "decode":
        from .sources.hex_ingest import decode_packet_json, load_layouts_json

        layouts, voff, vlen = load_layouts_json(args.metadata)
        with open(args.input) as f:
            result = decode_packet_json(spark, f.read(), layouts, voff, vlen)
        out = json.dumps(result, indent=2, default=str)
        if args.output:
            with open(args.output, "w") as fo:
                fo.write(out)
        else:
            print(out)
        return 0

    if args.cmd == "audit":
        from . import expectations as ex
        from .catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, args.warehouse)
        with open(args.suite) as f:
            specs = ex.resolve_dims(json.load(f), cat.read_table)
        report = ex.evaluate(cat.read_table(args.table, as_of=args.as_of), specs)
        print(json.dumps(report, indent=2, default=str))
        return 0 if all(r["passed"] for r in report) else 1

    if args.cmd == "matview":
        from .catalog import SnapshotCatalog
        from .plans import matview as mv

        cat = SnapshotCatalog(spark, args.warehouse)
        if args.limit < 1:
            ap.error("--limit must be >= 1")
        out = {}
        if args.create_over:
            if not args.group_by:
                ap.error("--create-over requires --group-by")
            sums = {}
            for kv in args.sum or []:
                if "=" not in kv:
                    ap.error(f"--sum needs OUT=SRC, got {kv!r}")
                k, v = kv.split("=", 1)
                if k in sums:
                    ap.error(f"--sum output {k!r} given twice")
                if k == "n_rows":
                    ap.error("--sum output 'n_rows' is reserved for the "
                             "always-included COUNT(*) measure")
                sums[k] = v
            snap = mv.create_matview(
                cat, args.view, args.create_over,
                args.group_by.split(","), sums, replace=args.replace,
            )
            out["created"] = snap.snapshot_id
        elif args.sum or args.group_by:
            ap.error("--group-by/--sum only apply with --create-over")
        if args.refresh:
            snap = mv.refresh_matview(cat, args.view)
            out["refreshed"] = (
                {"snapshot": snap.snapshot_id, "delta_rows": snap.row_count}
                if snap is not None else None
            )
        if args.compact:
            out["compacted"] = mv.compact_matview(cat, args.view).snapshot_id
        if args.status:
            out["status"] = mv.matview_status(cat, args.view)
        if args.show_rows:
            df = mv.read_matview(cat, args.view)
            # deterministic page, like the changes command: same
            # invocation, same rows — never an unbounded collect
            rows = [
                r.asDict(recursive=True)
                for r in df.orderBy(*df.columns).limit(args.limit + 1).collect()
            ]
            if len(rows) > args.limit:
                rows = rows[: args.limit]
                print(f"(showing first {args.limit} rows; raise --limit "
                      "for more)", file=sys.stderr)
            out["rows"] = rows
        print(json.dumps(out, indent=2, default=str))
        return 0

    if args.cmd == "searchindex":
        from .catalog import SnapshotCatalog
        from .plans import searchindex as si

        cat = SnapshotCatalog(spark, args.warehouse)
        if args.k < 1:
            ap.error("--k must be >= 1")
        out = {}
        if args.create_over:
            snaps = si.create_search_index(
                cat, args.index, args.create_over,
                id_col=args.id_col, text_col=args.text_col,
                replace=args.replace,
            )
            out["created"] = {t: s.snapshot_id for t, s in snaps.items()}
        if args.refresh:
            snaps = si.refresh_search_index(cat, args.index)
            out["refreshed"] = {
                t: ({"snapshot": s.snapshot_id, "delta_rows": s.row_count}
                    if s is not None else None)
                for t, s in snaps.items()
            }
        if args.status:
            out["status"] = si.search_index_status(cat, args.index)
        if args.query:
            df = si.search_index_topk(
                cat, args.index, list(enumerate(args.query)), k=args.k
            )
            out["results"] = [
                {**r.asDict(), "query": args.query[r["query_id"]]}
                for r in df.orderBy("query_id", "rank").collect()
            ]
        print(json.dumps(out, indent=2, default=str))
        return 0

    if args.cmd == "vectorindex":
        from pyspark.sql import functions as F

        from .catalog import SnapshotCatalog
        from .plans import vectorindex as vi

        cat = SnapshotCatalog(spark, args.warehouse)
        if args.k < 1:
            ap.error("--k must be >= 1")
        if args.n_probe is not None and args.n_probe < 1:
            ap.error("--n-probe must be >= 1")
        out = {}
        if args.create_over:
            snap = vi.create_vector_index(
                cat, args.index, args.create_over,
                id_col=args.id_col, vec_col=args.vec_col,
                n_cells=args.cells, kmeans_iters=args.kmeans_iters,
                replace=args.replace,
            )
            out["created"] = snap.snapshot_id
        if args.refresh:
            snap = vi.refresh_vector_index(cat, args.index)
            out["refreshed"] = (
                {"snapshot": snap.snapshot_id, "delta_rows": snap.row_count}
                if snap is not None else None
            )
        if args.compact:
            out["compacted"] = vi.compact_vector_index(cat, args.index).snapshot_id
        if args.status:
            out["status"] = vi.vector_index_status(cat, args.index)
        if args.query_id:
            st = out.get("status") or vi.vector_index_status(cat, args.index)
            # compare through a string cast so the lookup works whatever
            # the id column's type is — an int-typed isin() against a
            # string column silently matches nothing (and vice versa)
            queries = cat.read_table(st["base_table"]).filter(
                F.col(args.id_col).cast("string").isin(args.query_id)
            ).persist()
            try:
                # the found-set must render ids through the SAME Spark
                # string cast the filter used — Python str() of a
                # collected float/bool disagrees with Spark's rendering
                found = {
                    r[0]
                    for r in queries.select(
                        F.col(args.id_col).cast("string")
                    ).distinct().collect()
                }
                missing = [v for v in args.query_id if v not in found]
                if missing:
                    print(f"error: --query-id not in base table "
                          f"{st['base_table']!r}: {missing}", file=sys.stderr)
                    return 2
                df = vi.vector_index_topk(
                    cat, args.index, queries, k=args.k, n_probe=args.n_probe,
                    id_col=args.id_col, vec_col=args.vec_col,
                )
                out["results"] = [
                    r.asDict() for r in df.orderBy("query_id", "rank").collect()
                ]
            finally:
                queries.unpersist()
        print(json.dumps(out, indent=2, default=str))
        return 0

    if args.cmd == "maintain":
        from .catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, args.warehouse)
        out: dict = {}
        # action order mirrors a maintenance run: restore state first,
        # then rewrite, then garbage-collect what the rewrite obsoleted
        recovered = cat.recover_transactions()
        if recovered:
            out["recovered_transactions"] = recovered
        if args.rollback:
            out["rolled_back_to"] = cat.rollback(args.table, args.rollback).snapshot_id
        if args.publish:
            out["published"] = cat.publish(args.table, args.publish).snapshot_id
        if args.abandon:
            out["abandoned_dirs"] = cat.abandon_stage(args.table, args.abandon)
        # --zorder pairs with --compact-partition when both are given
        # (z-order yesterday's partition, never the archive); alone or
        # with --compact it means the whole-table rewrite
        if args.compact or (args.zorder and not args.compact_partition):
            snap = cat.compact(
                args.table,
                target_file_bytes=args.target_file_mb * 2**20,
                partition_by=args.partition_by.split(",") if args.partition_by else "auto",
                zorder_by=args.zorder.split(",") if args.zorder else None,
            )
            out["compacted_snapshot"] = snap.snapshot_id
        if args.compact_partition:
            bad = [kv for kv in args.compact_partition if "=" not in kv]
            if bad:
                ap.error(f"--compact-partition needs COL=VALUE, got {bad}")
            pairs = [kv.split("=", 1) for kv in args.compact_partition]
            dup = {c for c, _ in pairs if sum(1 for c2, _ in pairs if c2 == c) > 1}
            if dup:
                ap.error(f"--compact-partition repeated for columns {sorted(dup)}; "
                         "filters are conjunctive, one value per column")
            flt = dict(pairs)
            snap = cat.compact_partitions(
                args.table, flt,
                target_file_bytes=args.target_file_mb * 2**20,
                zorder_by=(
                    args.zorder.split(",")
                    if args.zorder and not args.compact else None
                ),
            )
            out["compacted_partitions_snapshot"] = snap.snapshot_id
        if args.create_tag:
            out["tagged"] = {
                args.create_tag:
                cat.create_tag(args.table, args.create_tag, as_of=args.tag_at).snapshot_id
            }
        if args.remove_tag:
            out["untagged"] = {args.remove_tag: cat.remove_tag(args.table, args.remove_tag)}
        if args.create_branch:
            out["branched"] = {
                args.create_branch:
                cat.create_branch(args.table, args.create_branch).snapshot_id
            }
        if args.fast_forward:
            out["fast_forwarded"] = {
                args.fast_forward:
                cat.fast_forward(args.table, args.fast_forward).snapshot_id
            }
        if args.remove_branch:
            out["branch_removed"] = {
                args.remove_branch: cat.remove_branch(args.table, args.remove_branch)
            }
        if args.expire_keep is not None or args.expire_older_than is not None:
            out["expired_dirs"] = cat.expire_snapshots(
                args.table,
                keep_last=1 if args.expire_keep is None else args.expire_keep,
                older_than=args.expire_older_than,
            )
        if args.orphans_older_than is not None:
            out["removed_orphans"] = cat.remove_orphan_files(
                args.table, older_than_s=args.orphans_older_than
            )
        if args.show:
            mt = {
                "files": cat.files_metadata,
                "partitions": cat.partitions_metadata,
                "snapshots": cat.snapshots_metadata,
                "refs": cat.refs_metadata,
            }[args.show](args.table)
            out["show"] = [r.asDict(recursive=True) for r in mt.collect()]
        print(json.dumps(out, indent=2, default=str))
        return 0

    if args.cmd == "changes":
        from .catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, args.warehouse)
        ch = cat.changes(
            args.table,
            from_snapshot=args.from_snapshot,
            to_snapshot=args.to_snapshot,
            drop_carryovers=not args.keep_carryovers,
        )
        # deterministic page: same command, same rows (a bare limit
        # would print an arbitrary plan-dependent subset)
        rows = [
            r.asDict(recursive=True)
            for r in ch.orderBy(*ch.columns).limit(args.limit + 1).collect()
        ]
        if len(rows) > args.limit:
            rows = rows[: args.limit]
            print(f"(showing first {args.limit} rows; raise --limit for more)",
                  file=sys.stderr)
        print(json.dumps(rows, indent=2, default=str))
        return 0

    if args.cmd == "mine":
        from pyspark.sql import functions as F

        from .operators.logmine import mine_templates
        from .sources.textlog import read_text_lines

        # mining is order-independent → the parallel line-split read
        # (a single giant unrotated file splits across tasks instead of
        # loading as one wholetext row)
        df = (
            mine_templates(
                read_text_lines(spark, args.input_text),
                conv_col="file",
                approx_distinct=args.approx,
            )
            .withColumnRenamed("n_convs", "n_files")
            .orderBy(F.desc("n_lines"), "template")
            .limit(args.limit)
        )
    elif args.cmd == "list":
        df = qh.list_patterns(spark)
    elif args.cmd == "versions":
        df = qh.versions_of(spark, args.pattern_class)
    elif args.cmd == "query":
        df = qh.describe_pattern(spark, args.pattern_class, args.version)
    elif args.cmd == "search":
        df = qh.search_patterns(spark, args.term)
    elif args.cmd == "revisions":
        from . import revisions as rev

        if args.pattern_class:
            df = rev.revisions_by_class(spark, args.pattern_class)
        elif args.month and args.year:
            df = rev.revisions_by_date(spark, args.month, args.year)
        else:
            ap.error("revisions requires --pattern-class or --month + --year")
    elif args.cmd == "sinks":
        from .catalog import SnapshotCatalog

        df = qh.sink_summary(SnapshotCatalog(spark, args.warehouse))
    else:  # pragma: no cover
        ap.error(f"unknown command {args.cmd}")
    rows = [r.asDict(recursive=True) for r in df.collect()]
    print(json.dumps(rows, default=str, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
