"""BM25 full-text retrieval over an inverted index of the corpus.

The reference's only text search is a LIKE scan over registry rows
(``src/app.py`` search command — P7 in SURVEY §2); at 100 TB a scan
per query is not a search engine. This module adds the classical
ranked-retrieval pair:

* :func:`build_postings` — ONE explode + groupBy pass over the corpus
  producing the two index relations (postings ``(term, doc_id, tf)``
  and doc lengths ``(doc_id, dl)``). Both are plain DataFrames:
  persist them once as catalog tables (the index build is the only
  corpus-wide job) and every query after that touches postings for its
  own terms only.
* :func:`bm25_topk` — Okapi BM25 (k1/b, the Robertson/Sparck-Jones
  idf in its always-positive Lucene form ``ln(1 + (N-df+0.5)/(df+0.5))``)
  for a small batch of queries against the index.

Scale shape (the part that must survive 1000 executors):

* postings are **denormalized with the doc length** (``dl`` rides on
  every posting row — the standard Lucene layout) so scoring never
  joins back to a corpus-wide doc table: the per-doc length a score
  needs is already on the candidate row;
* the query-term table is a handful of rows → **broadcast**; pruning
  postings to candidate rows is a map-side broadcast join, never a
  shuffle of the index;
* per-term document frequencies are computed ONLY for the query's
  terms — a map-side-combined count whose output is |query terms|
  rows, not a corpus-wide df table;
* corpus stats (N, total token count) ride in as a 1-row broadcast
  cross join, so ``avgdl`` is the exact ratio of two exact BIGINTs —
  bit-identical in any engine, no double-sum order dependence;
* the only shuffle keyed on data volume after the index scan is the
  per-(query, doc) score aggregation, and that is candidate-sized.
  Docs that share no term with any query are never touched.

Scores are rounded to 4 decimals BEFORE ranking so the (score DESC,
doc_id ASC) order — and therefore the top-k cut — is stable across
engines; the DuckDB oracle ranks the identically-rounded value.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .text import py_tokens, tokens


def postings_rows(id_col: str = "doc_id", text_col: str = "text"):
    """Factory → the row-level token explode both index paths share:
    one output row per token occurrence, ``(doc_id, dl, term)``. The
    single source of truth for index tokenization — the one-shot
    :func:`build_postings` aggregates it directly and the incremental
    index registers it as a matview transform
    (``plans/searchindex.py``), so the two can never drift."""

    def fn(df: DataFrame) -> DataFrame:
        toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
        return toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )

    return fn


def doc_length_rows(id_col: str = "doc_id", text_col: str = "text"):
    """Factory → one row per doc, ``(doc_id, dl)`` — dl=0 docs
    included, so COUNT is the corpus size N and SUM(dl) the total
    token count (the exact-BIGINT BM25 normalizers)."""

    def fn(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("dl")
        )

    return fn


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The inverted index of ``docs``: ``(postings, doclen)`` where
    postings = one row per distinct (term, doc) with its term
    frequency AND the doc's token count (``dl`` denormalized onto the
    posting so scoring never rejoins a corpus-wide doc table), doclen =
    one row per doc (feeds corpus stats and is the smaller table to
    persist for N/avgdl). Tokenization is the engine-wide convention
    (``text.tokens``: lowercase, split on whitespace) so index terms
    line up with every other text operator. One narrow projection feeds
    both outputs; the postings groupBy is map-side combined on
    (term, doc_id) — ``max(dl)`` is constant per doc, so the partial
    aggregate stays one row per (term, doc) per partition. ``id_col``
    values must be unique per document (an index over duplicate ids
    has ill-defined lengths)."""
    doclen = doc_length_rows(id_col, text_col)(docs)
    postings = (
        postings_rows(id_col, text_col)(docs)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    return postings, doclen


def query_terms_df(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """Tokenize a small query batch with the index convention into a
    broadcastable ``(query_id, term)`` frame — terms deduplicated per
    query (bag-of-words retrieval scores each distinct term once per
    document)."""
    qterms = sorted(
        {(int(qid), t) for qid, q in queries for t in py_tokens(q)}
    )
    if not qterms:
        raise ValueError("no non-empty query terms")
    return spark.createDataFrame(qterms, "query_id int, term string")


def topk_from_postings(
    postings: DataFrame,
    stats: DataFrame,
    qdf: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The BM25 scoring core over an existing index: ``postings``
    carries ``(term, doc_id, tf, dl)`` (however built — one-shot
    :func:`build_postings` or the incrementally-maintained matview in
    ``plans/searchindex.py``), ``stats`` is one row
    ``(n_docs, total_dl)``, ``qdf`` the broadcastable query terms.
    Every small side is broadcast; the only data-sized shuffle is the
    candidate-sized per-(query, doc) score aggregation."""
    # df for the QUERY terms only: the broadcast semi-prune happens
    # before the count, so this aggregates candidate postings, not the
    # whole index, and emits one row per distinct query term. Distinct
    # DOCS, not posting rows — df is defined as documents containing
    # the term, and a postings relation is not guaranteed one row per
    # (term, doc) (e.g. duplicate base doc_ids put dl-split rows in
    # the incremental index); counting rows would silently inflate it.
    term_df = (
        postings.join(F.broadcast(qdf.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    cand = (
        postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(term_df), "term")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_w = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (1 - b + F.lit(b) * F.col("dl") / avgdl)
    )
    scored = (
        cand.withColumn("contrib", idf * tf_w)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` docs per query by BM25, exact, indexing ``docs`` in
    the same job. ``queries`` is a small batch of
    ``(query_id, free-text query)``. Returns
    ``(query_id, doc_id, score, rank)`` with rank 1..k per query,
    rounded-score-then-doc_id ordering."""
    qdf = query_terms_df(docs.sparkSession, queries)
    postings, doclen = build_postings(docs, id_col=id_col, text_col=text_col)
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    return topk_from_postings(postings, stats, qdf, k=k, k1=k1, b=b)


def positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings ``(term, doc_id, pos)`` — 0-based token
    position, same tokenization as the BM25 index. The persisted-index
    layout :func:`phrase_occurrences_indexed` chains on; write it as a
    catalog table once and phrase queries never rescan the corpus.
    ``id_col`` values must be unique per document (duplicates would
    cross-multiply the chain joins into inflated counts)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )


def _phrase_terms(phrases: list[tuple[int, str]]) -> list[tuple[int, list[str]]]:
    if not phrases:
        raise ValueError("no phrases given")
    out = []
    for pid, phrase in phrases:
        terms = py_tokens(phrase)
        if not terms:
            raise ValueError(f"phrase {pid!r} has no non-empty terms")
        out.append((int(pid), terms))
    return out


def phrase_occurrences(
    docs: DataFrame,
    phrases: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching straight off the corpus: docs containing
    each phrase's tokens CONSECUTIVELY, with the occurrence count —
    ``(phrase_id, doc_id, n_occ)``, ``n_occ ≥ 1``, overlapping matches
    counted. ONE narrow scan for the whole phrase batch: the token
    array materializes once per row and every phrase is a pure
    higher-order-function expression over it (count of window starts
    where all m tokens line up), stacked with ``explode`` — zero
    joins, zero shuffles, whole-stage codegen'd. This is the right
    plan when the corpus is scanned anyway; a standing phrase workload
    uses :func:`phrase_occurrences_indexed` over a PERSISTED
    positional index instead. A single-term phrase degenerates to a
    term-frequency count."""
    specs = _phrase_terms(phrases)

    def occ(toks, terms: list[str]):
        m = len(terms)
        # sequence(1, 0) DESCENDS in Spark — guard docs shorter than m
        idx = F.sequence(F.lit(1), F.size(toks) - (m - 1))
        hits = F.filter(
            idx,
            lambda i: F.aggregate(
                F.array(*[
                    F.element_at(toks, i + j) == F.lit(t)
                    for j, t in enumerate(terms)
                ]),
                F.lit(True),
                lambda acc, x: acc & x,
            ),
        )
        n = F.when(F.size(toks) >= m, F.size(hits)).otherwise(F.lit(0))
        return n.cast("long")

    toks = F.col("_toks")
    stacked = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks"))
        .select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(pid).alias("phrase_id"),
                        occ(toks, terms).alias("n_occ"),
                    )
                    for pid, terms in specs
                ])
            ).alias("hit"),
        )
        .select("doc_id", "hit.phrase_id", "hit.n_occ")
        .filter(F.col("n_occ") > 0)
    )
    return stacked.select("phrase_id", "doc_id", "n_occ")


def phrase_occurrences_indexed(
    postings_pos: DataFrame, phrases: list[tuple[int, str]]
) -> DataFrame:
    """Exact phrase matching against a PERSISTED positional index
    (:func:`positional_postings` written as a table): the classic
    chain — anchor candidates on the first term's positions, one
    equi-join per further term on ``(doc_id, anchor_pos)`` with that
    term's positions shifted back by its offset. Every join is
    candidate-sized and hash-shuffled on uniform keys, each phrase
    filtered by term LITERAL before anything wide happens (filters
    push into the index scan), so a rare phrase costs its own
    candidates only — the corpus text is never read. Output identical
    to :func:`phrase_occurrences` (equivalence pinned in tests)."""
    specs = _phrase_terms(phrases)
    branches = []
    for pid, terms in specs:
        cur = postings_pos.filter(F.col("term") == terms[0]).select(
            "doc_id", F.col("pos").alias("p")
        )
        for i, t in enumerate(terms[1:], start=1):
            nxt = postings_pos.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - i).alias("p")
            )
            cur = cur.join(nxt, ["doc_id", "p"])
        branches.append(
            cur.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .select(F.lit(pid).alias("phrase_id"), "doc_id", "n_occ")
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N per-query rankings
    — the standard hybrid-retrieval combiner (e.g. BM25 ⊕ embedding
    kNN). Each input frame carries ``(query_id, doc_id, rank)``; a doc
    absent from a list simply contributes no term (full-outer
    semantics). The fused score Σ 1/(c + rank_i) is the same IEEE
    double expression in any engine and is ROUNDED to 8 decimals
    BEFORE the final (score desc, doc_id asc) cut, so the top-``k``
    is engine-stable and fully oracle-replayable — no learned weights,
    no score normalization across heterogeneous scales, which is
    precisely why RRF is the robust default for fusing rankings whose
    raw scores aren't comparable. Plan: the inputs are top-k-sized, so
    every join and the rank window run on candidate-sized data.

    Precondition: each ranking holds at most one row per
    ``(query_id, doc_id)`` — a repeated pair would add its term twice.
    An empty ``rankings`` list raises ``ValueError``."""
    if not rankings:
        raise ValueError("no rankings")
    contribs = [
        r.select(
            "query_id", "doc_id",
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias("part"),
        )
        for r in rankings
    ]
    allc = contribs[0]
    for other in contribs[1:]:
        allc = allc.unionByName(other)
    fused = allc.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("part"), 8).alias("rrf")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf", "rank")
    )


def bm25_score_py(
    corpus: dict[int, list[str]], query_terms: list[str], k1: float = 1.2, b: float = 0.75
) -> dict[int, float]:
    """Row-at-a-time reference scorer (test oracle only): plain-Python
    BM25 over a tokenized corpus, mirroring the formula above term for
    term so property tests can pin the distributed plan against an
    independent implementation."""
    n = len(corpus)
    if n == 0:
        return {}
    avgdl = sum(len(t) for t in corpus.values()) / n
    terms = sorted(set(query_terms))
    df = {t: sum(1 for toks in corpus.values() if t in toks) for t in terms}
    out: dict[int, float] = {}
    for doc_id, toks in corpus.items():
        s = 0.0
        dl = len(toks)
        matched = False
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            matched = True
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        if matched:
            # matched docs stay in the result even when the score
            # ROUNDS to 0.0 (term in every doc → tiny idf): the
            # distributed plan emits those rows too, and the replica
            # must agree row-for-row, not just on "interesting" docs
            out[doc_id] = round(s, 4)
    return out
