"""BM25 retrieval (operators/search.py) and time-series densification
(operators/timeseries.py): semantics against independent row-at-a-time
replicas, edge cases, and plan-shape assertions (broadcast pruning, no
corpus-wide rejoin). The DuckDB value parity of both contract queries
(q_search_bm25, q_ts_densify) runs in test_duckdb_parity.py."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from log_parser_project_spark.operators.search import (
    bm25_score_py,
    bm25_topk,
    build_postings,
)
from log_parser_project_spark.operators.timeseries import bucket_epoch, densify


# --------------------------------------------------------------------- search
CORPUS = [
    (0, "spark join window join"),
    (1, "the quick brown fox"),
    (2, "spark spark spark streaming"),
    (3, "window functions and window frames"),
    (4, "join the stream"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_postings_shape_and_dl(docs):
    postings, doclen = build_postings(docs)
    rows = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in postings.collect()}
    # tf counts duplicates within a doc; dl is the doc's total tokens
    assert rows[("join", 0)] == (2, 4)
    assert rows[("spark", 2)] == (3, 4)
    # empty doc contributes no postings but exists in doclen with dl=0
    assert not any(d == 5 for (_t, d) in rows)
    dls = {r["doc_id"]: r["dl"] for r in doclen.collect()}
    assert dls[5] == 0 and dls[1] == 4


def test_bm25_matches_python_reference(docs):
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(docs, [(0, "spark join"), (1, "window")], k=10).collect()
    }
    corpus = {i: t.lower().split() for i, t in CORPUS}
    exp0 = bm25_score_py(corpus, ["spark", "join"])
    exp1 = bm25_score_py(corpus, ["window"])
    assert {d: s for (q, d), s in got.items() if q == 0} == pytest.approx(exp0)
    assert {d: s for (q, d), s in got.items() if q == 1} == pytest.approx(exp1)
    # ranking: doc 2 (tf=3 of 'spark') must beat doc 4 (one weaker term)
    ranks = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in bm25_topk(docs, [(0, "spark join")], k=10).collect()
    }
    assert ranks[(0, 0)] == 1  # two terms matched, highest combined
    assert len(ranks) == len(exp0)


def test_bm25_k_cut_and_term_dedup(docs):
    # k=1 keeps exactly one row per query; duplicate terms in the query
    # text score once (bag-of-words over DISTINCT query terms)
    one = bm25_topk(docs, [(0, "spark spark join")], k=1).collect()
    assert len(one) == 1 and one[0]["rank"] == 1
    a = bm25_score_py({i: t.lower().split() for i, t in CORPUS}, ["spark", "join"])
    assert one[0]["score"] == pytest.approx(a[one[0]["doc_id"]])


def test_bm25_rejects_empty_query(docs):
    with pytest.raises(ValueError, match="query terms"):
        bm25_topk(docs, [(0, "   ")], k=3)


def test_bm25_plan_broadcasts_and_no_doc_rejoin(docs):
    plan = bm25_topk(docs, [(0, "spark join")], k=3)._jdf.queryExecution().executedPlan().toString()
    # query terms, per-term df, and corpus stats all arrive broadcast;
    # the only SortMergeJoin-eligible shuffle join would be a doclen
    # rejoin, which the denormalized dl makes unnecessary
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_python_reference_self_consistency():
    corpus = {1: ["a", "b"], 2: ["b", "b", "c"], 3: []}
    s = bm25_score_py(corpus, ["b"])
    # higher tf wins when dl comparable; absent docs score nothing
    assert s[2] > s[1] and 3 not in s
    assert bm25_score_py({}, ["x"]) == {}


# ----------------------------------------------------------------- timeseries
def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # key 'a': observations at hours 0, 1 and 4 → gaps at 2, 3
        ("a", _ts(0, 10), 100),
        ("a", _ts(0, 50), 50),
        ("a", _ts(1, 5), 70),
        ("a", _ts(4, 59), 10),
        # key 'b': single bucket → no gaps, no spine beyond itself
        ("b", _ts(2, 30), 5),
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, v long")


def test_densify_fills_gaps_and_locf(events):
    out = densify(
        events, key_col="k", ts_col="ts", value_cents=F.col("v"), bucket_seconds=3600
    )
    rows = {(r["key"], r["bucket"]): r for r in out.collect()}
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    a = [rows[("a", base + h * 3600)] for h in range(5)]
    assert [r["n"] for r in a] == [2, 1, 0, 0, 1]
    assert [r["sum_v_c"] for r in a] == [150, 70, None, None, 10]
    # LOCF: gaps carry hour-1's 70 forward until hour 4 observes 10
    assert [r["locf_v_c"] for r in a] == [150, 70, 70, 70, 10]
    # single-bucket key: exactly one row, trivially filled
    assert [k for (k, _b) in rows if k == "b"] == ["b"]
    assert rows[("b", base + 2 * 3600)]["n"] == 1


def test_densify_span_is_per_key(events):
    # key 'b' must NOT inherit key 'a''s [0h, 4h] span
    out = densify(events, key_col="k", ts_col="ts", bucket_seconds=3600)
    assert out.filter(F.col("key") == "b").count() == 1
    assert out.filter(F.col("key") == "a").count() == 5
    # count-only mode omits the value columns entirely
    assert set(out.columns) == {"key", "bucket", "n"}


def test_densify_wider_buckets_shrink_spine(events):
    out = densify(events, key_col="k", ts_col="ts", bucket_seconds=6 * 3600)
    # all of key 'a' lands in one 6h bucket
    assert out.filter(F.col("key") == "a").count() == 1


def test_bucket_epoch_matches_utc_floor(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1, 13, 59, 59),)], "ts timestamp"
    ).select(bucket_epoch("ts", 3600).alias("b"))
    exp = int(dt.datetime(2024, 3, 1, 13, tzinfo=dt.timezone.utc).timestamp())
    assert df.collect()[0]["b"] == exp


def test_densify_python_replica(spark):
    """Independent row-at-a-time replica over a pseudo-random series."""
    import random

    rng = random.Random(7)
    rows = [
        ("k%d" % rng.randrange(3), _ts(rng.randrange(24), rng.randrange(60)),
         rng.randrange(-50, 500))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    got = {
        (r["key"], r["bucket"]): (r["n"], r["sum_v_c"], r["locf_v_c"])
        for r in densify(df, "k", "ts", value_cents=F.col("v")).collect()
    }
    # replica
    agg: dict = {}
    for k, ts, v in rows:
        b = int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600 * 3600
        n, s = agg.get((k, b), (0, 0))
        agg[(k, b)] = (n + 1, s + v)
    exp = {}
    for k in {k for k, _b in agg}:
        bs = [b for kk, b in agg if kk == k]
        last = None
        for b in range(min(bs), max(bs) + 3600, 3600):
            n, s = agg.get((k, b), (0, None))
            if s is not None:
                last = s
            exp[(k, b)] = (n, s, last)
    assert got == exp


def test_gap_islands(spark):
    from log_parser_project_spark.operators.timeseries import gap_islands

    rows = [
        # key 'a': hits at 0,1 then silence 2-4, hit 5, silence 6-7, hit 8
        ("a", _ts(0)), ("a", _ts(1)), ("a", _ts(5)), ("a", _ts(8)),
        # key 'b': a single 1-bucket gap (below min_buckets=2)
        ("b", _ts(0)), ("b", _ts(2)),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = {
        (r["key"], r["gap_start"]): (r["gap_end"], r["n_buckets"])
        for r in gap_islands(df, "k", min_buckets=2).collect()
    }
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    h = lambda n: base + n * 3600
    # two runs for 'a' (2-4 and 6-7), none for 'b'
    assert got == {
        ("a", h(2)): (h(4), 3),
        ("a", h(6)): (h(7), 2),
    }
    # min_buckets=1 surfaces b's single empty bucket too
    got1 = gap_islands(df, "k", min_buckets=1)
    assert got1.filter("key = 'b'").collect()[0]["n_buckets"] == 1
    # a fully-dense key yields no islands at all
    dense = spark.createDataFrame(
        [("c", _ts(i)) for i in range(4)], "k string, ts timestamp"
    )
    assert gap_islands(dense, "k", min_buckets=1).count() == 0


def test_phrase_occurrences(spark):
    from log_parser_project_spark.operators.search import phrase_occurrences

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # "a b" twice; "b a" twice
            (2, "a a b"),            # "a b" once (second a anchors)
            (3, "b a"),              # "a b" zero (wrong order)
            (4, "a c b"),            # zero: not consecutive
            (5, "x a b c y"),        # "a b c" once
        ],
        "doc_id long, text string",
    )
    got = {
        (r["phrase_id"], r["doc_id"]): r["n_occ"]
        for r in phrase_occurrences(
            docs, [(0, "a b"), (1, "a b c"), (2, "a")]
        ).collect()
    }
    assert {k: v for k, v in got.items() if k[0] == 0} == {
        (0, 1): 2, (0, 2): 1, (0, 5): 1
    }
    assert {k: v for k, v in got.items() if k[0] == 1} == {(1, 5): 1}
    # single-term phrase = term frequency
    assert got[(2, 1)] == 3 and got[(2, 2)] == 2 and got[(2, 4)] == 1
    with pytest.raises(ValueError, match="non-empty"):
        phrase_occurrences(docs, [(0, "  ")])


def test_phrase_overlapping_occurrences(spark):
    from log_parser_project_spark.operators.search import phrase_occurrences

    # overlapping matches all count: "a a a" contains "a a" twice
    docs = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
    got = phrase_occurrences(docs, [(0, "a a")]).collect()
    assert [(r["doc_id"], r["n_occ"]) for r in got] == [(1, 2)]


def test_phrase_indexed_equivalent_and_py_tokens_mirror(spark):
    from log_parser_project_spark.operators.search import (
        phrase_occurrences,
        phrase_occurrences_indexed,
        positional_postings,
    )
    from log_parser_project_spark.operators.text import py_tokens, tokens

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a a b"), (3, "b a"), (4, "x a b c y"), (5, "")],
        "doc_id long, text string",
    )
    phrases = [(0, "a b"), (1, "a b c"), (2, "a")]
    expr = sorted(tuple(r) for r in phrase_occurrences(docs, phrases).collect())
    chain = sorted(
        tuple(r)
        for r in phrase_occurrences_indexed(
            positional_postings(docs), phrases
        ).collect()
    )
    assert expr == chain
    # the expression path plans ZERO shuffles (one narrow scan for the
    # whole batch); the chain path is the persisted-index shape
    plan = phrase_occurrences(docs, phrases)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="no phrases"):
        phrase_occurrences(docs, [])
    # py_tokens is THE mirror of the Spark tokenizer: ASCII whitespace
    # splits, Unicode whitespace (U+00A0) does NOT split, case folds
    tricky = "Spark\u00a0join\tWINDOW  two\nlines"  # NBSP: not a split
    spark_toks = (
        spark.createDataFrame([(tricky,)], "text string")
        .select(tokens("text").alias("t")).collect()[0]["t"]
    )
    assert py_tokens(tricky) == spark_toks == ["spark\u00a0join", "window", "two", "lines"]


# ---------------------------------------------------------------------------
# reciprocal-rank fusion (hybrid retrieval combiner)
# ---------------------------------------------------------------------------

def test_rrf_fuse_arithmetic_and_outer_semantics(spark):
    """Toy fusion: doc 10 is rank 1 in both lists, doc 20 appears only
    in list A, doc 30 only in list B — the fused scores must be the
    exact reciprocal sums (c=60) with full-outer semantics, ranked
    (rrf desc, doc_id asc)."""
    from log_parser_project_spark.operators.search import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 20, 2)], "query_id long, doc_id long, rank long")
    b = spark.createDataFrame(
        [(0, 10, 1), (0, 30, 2)], "query_id long, doc_id long, rank long")
    got = {r.doc_id: (r.rrf, r.rank)
           for r in rrf_fuse([a, b], k=10, c=60).collect()}
    assert got[10] == (round(2 * (1.0 / 61.0), 8), 1)
    # 20 and 30 tie on score 1/62 -> doc_id ascending breaks the tie
    assert got[20] == (round(1.0 / 62.0, 8), 2)
    assert got[30] == (round(1.0 / 62.0, 8), 3)

    # k cuts per query, not globally
    two_q = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1)], "query_id long, doc_id long, rank long")
    out = rrf_fuse([two_q], k=1).collect()
    assert {(r.query_id, r.doc_id, r.rank) for r in out} == {(0, 1, 1), (1, 2, 1)}


def test_rrf_fuse_rejects_no_rankings():
    from log_parser_project_spark.operators.search import rrf_fuse

    with pytest.raises(ValueError, match="no rankings"):
        rrf_fuse([])
