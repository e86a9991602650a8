"""The training-corpus curation job: the second flagship pipeline.

Composes the training-data operators into the end-to-end flow a
pretraining-data team runs over a raw 100 TB document crawl:

    score (quality/lang/tokens) → filter → exact-dedup (md5, min-id
    rep) → leakage-free hash split (train/val/test) → contiguous-fill
    context packing → curated table + per-(source, split) stats

Plan shape: three shuffles total — the dedup exchange on the md5
fingerprint (uniform → no skew), the semi-join back, and the
(source, split) window for packing; everything else is narrow,
expression-only, codegen'd. All stages are content-deterministic
(md5-driven), so the curated set is identical at any parallelism —
and the DuckDB oracle reproduces the whole composite bit-for-bit
(``q_corpus_stats``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SnapshotCatalog
from ..operators.sampling import hash_split, pack_sequences
from ..operators.text import with_text_features

SPLITS = {"train": 90, "val": 5, "test": 5}


def curate(
    docs: DataFrame,
    min_quality: float = 0.5,
    max_len: int = 4000,
) -> DataFrame:
    """The full curation flow; returns the curated doc set with
    ``quality, lang_guess, fingerprint, split, pack_bin, pack_offset``.
    """
    feats = with_text_features(docs)
    kept = feats.filter(F.col("quality") >= min_quality)
    # exact dedup, min-id representative per fingerprint: one uniform
    # hash aggregate + a semi join (never a per-key collect)
    reps = kept.join(
        kept.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id")),
        ["fingerprint", "doc_id"],
        "left_semi",
    )
    split = hash_split(reps, "doc_id", SPLITS)
    return pack_sequences(
        split, group=["source", "split"], order="doc_id",
        size_col="n_chars", max_len=max_len,
    )


def corpus_stats(curated: DataFrame) -> DataFrame:
    """Per-(source, split) curation stats — the job's scoreboard."""
    return curated.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("pack_bin") + 1).cast("int").alias("n_bins"),
        F.sum("n_chars").cast("long").alias("chars_packed"),
        F.sum(F.round(F.col("quality") * 10000)).cast("long").alias("sum_quality_e4"),
    )


def run_corpus(
    spark: SparkSession,
    docs: DataFrame,
    catalog: SnapshotCatalog,
    min_quality: float = 0.5,
    max_len: int = 4000,
) -> dict[str, int]:
    """Curate and commit: ``corpus_docs`` partitioned by split (so a
    trainer's scan of one split prunes to its subtree) + the stats
    table. Returns {split: n_docs}."""
    curated = curate(docs, min_quality, max_len)
    catalog.write_table(
        curated, "corpus_docs", partition_by=["split"],
        lineage={"stage": "curate", "min_quality": min_quality, "max_len": max_len},
    )
    # ONE scan of the committed table feeds both the stats sink and the
    # per-split counts (the stats rows already carry n_docs per split)
    stats = corpus_stats(catalog.read_table("corpus_docs", schema=curated.schema))
    stat_rows = stats.collect()
    catalog.write_table(
        spark.createDataFrame(stat_rows, stats.schema),
        "corpus_stats",
        lineage={"stage": "corpus_stats"},
        row_count=len(stat_rows),
    )
    counts: dict[str, int] = {}
    for r in stat_rows:
        counts[r.split] = counts.get(r.split, 0) + r.n_docs
    return counts


def commit_increment(
    catalog: SnapshotCatalog,
    increment: DataFrame,
    table: str = "corpus",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    cut_tag: str | None = None,
) -> DataFrame:
    """Incremental corpus commit: dedup ``increment`` against the
    committed corpus via its PERSISTED dedup index and append only
    novel docs — the daily-increment shape at 100 TB, where history is
    never re-shingled (exact dups hit the fp index, near-dup
    candidates hit the band index, and only candidate old docs' text
    is re-read for the exact verify; see
    ``dedup.increment_dedup_report``).

    Three tables advance together: ``<table>`` (the docs),
    ``<table>_index_docs`` (doc_id, fp, sz), ``<table>_index_bands``
    (doc_id, band, bucket). Returns the per-doc verdict report
    (doc_id, status, dup_of, sim), already materialized — re-committing
    the same increment is a no-op (every doc reports
    ``exact_history``; nothing is appended).

    Crash consistency: the three commits are ONE atomic transaction
    (``catalog.transaction()`` — staged writes, a single commit record,
    recovery-replayed pointer flips), so readers never observe docs
    without their index rows. On entry, any committed doc MISSING from
    ``_index_docs`` (a lost or rolled-back index table) is detected and
    its index rows rebuilt from the committed text before deduping the
    increment — without the repair, every later increment would
    silently miss duplicates against those docs. The fast path is a
    count comparison (index ⊆ corpus holds because index rows only
    ever commit with their docs, so equal counts ⇒ equal id sets — no
    corpus-wide anti-join per increment); the id-level anti-join runs
    only when the counts diverge.
    """
    from ..operators.dedup import build_dedup_index, increment_dedup_report

    if cut_tag is not None:
        # preflight BEFORE any table advances: a bad tag name or a
        # duplicate must fail while the commit is still retryable —
        # failing after the three writes would leave the increment
        # permanently committed but unpinnable
        if not catalog._TAG_SHAPE.match(cut_tag) or catalog._ID_SHAPE.match(cut_tag):
            raise ValueError(f"invalid cut_tag {cut_tag!r} (see create_tag)")
        if cut_tag in catalog.tags(table):
            raise ValueError(f"cut_tag {cut_tag!r} already exists on {table!r}")

    docs_t, bands_t = f"{table}_index_docs", f"{table}_index_bands"
    history = idx_docs = idx_bands = None
    if catalog.exists(table):
        history = catalog.read_table(table)
        have_idx = catalog.exists(docs_t) and catalog.exists(bands_t)
        if have_idx:
            idx_docs = catalog.read_table(docs_t)
            idx_bands = catalog.read_table(bands_t)
            unindexed = (
                history
                if history.select(id_col).count() != idx_docs.count()
                else None
            )
            if unindexed is not None:
                unindexed = history.join(
                    idx_docs.select(id_col), id_col, "left_anti"
                )
        else:
            unindexed = history  # index tables lost/never written
        if unindexed is not None and not unindexed.isEmpty():
            rep_docs, rep_bands = build_dedup_index(
                unindexed, n=n, num_hashes=num_hashes, bands=bands,
                id_col=id_col, text_col=text_col,
            )
            repair_lineage = {"stage": "incremental_dedup_index_repair"}
            if have_idx:
                # a crash BETWEEN the bands and index_docs commits left
                # band rows for these docs — don't append them twice
                rep_bands = rep_bands.join(
                    idx_bands.select(id_col).distinct(), id_col, "left_anti"
                )
                catalog.write_table(
                    rep_bands, bands_t, mode="append", lineage=repair_lineage
                )
                catalog.write_table(
                    rep_docs, docs_t, mode="append", lineage=repair_lineage
                )
            else:
                catalog.write_table(
                    rep_bands, bands_t, mode="overwrite", lineage=repair_lineage
                )
                catalog.write_table(
                    rep_docs, docs_t, mode="overwrite", lineage=repair_lineage
                )
            idx_docs = catalog.read_table(docs_t)
            idx_bands = catalog.read_table(bands_t)
    report = increment_dedup_report(
        increment, history, idx_docs, idx_bands,
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        id_col=id_col, text_col=text_col, candidates="lsh",
    ).localCheckpoint()  # verdict-sized; consumed 2× below and returned
    kept = report.filter(F.col("status") == "kept").select(id_col)
    survivors = increment.join(kept, id_col, "left_semi")
    n_kept = kept.count()
    if n_kept:
        new_docs, new_bands = build_dedup_index(
            survivors, n=n, num_hashes=num_hashes, bands=bands,
            id_col=id_col, text_col=text_col,
        )
        mode = "append" if history is not None else "overwrite"
        lineage = {"stage": "incremental_dedup", "added": n_kept}
        # the three tables advance ATOMICALLY — readers never see docs
        # without their index rows, and a crash leaves either nothing
        # or (after recovery) all three
        with catalog.transaction() as txn:
            txn.write_table(survivors, table, mode=mode,
                            lineage=lineage, row_count=n_kept)
            txn.write_table(new_bands, bands_t, mode=mode, lineage=lineage)
            txn.write_table(new_docs, docs_t, mode=mode,
                            lineage=lineage, row_count=n_kept)
    if cut_tag is not None:
        # pin THIS cut's exact corpus snapshot: the dataset built from
        # it stays reproducible through expiry/compaction/orphan sweeps
        # until the tag is removed (validated in the preflight above)
        catalog.create_tag(table, cut_tag)
    return report
