"""Fifth query batch: the flagship parse→enrich→route pipeline under
the STRONG oracle gate.

The earlier ``q_pipeline_routed`` runs over the in-engine synthetic
generator and can only get the driver's rows-only check. Here the
transcripts input is *derived deterministically from the driver's
``events`` parquet table* with engine-portable expressions (integer
arithmetic + printf-style formatting only — no float formatting, no
locale, no Unicode classes), so DuckDB can construct the identical
input and the whole pipeline — classify (header-decode analog,
``decoder/header_decoder.py:21-60``), per-row version resolution
(``decoder/version_resolver.py:13-56``), Arrow-batched registry
extraction (``decoder/field_decoder.py:14-114``), broadcast dim
enrich, enum mapping (``utils/enum_mapper.py:8-24``), derived metrics
(``decoder/field_post_processor.py:19-148``), and quarantine routing —
is value-hash-checked end to end, including the repeat-group explode
(``decoder/payload_decoder.py:133-209``).

Every route is exercised: tool_call (with repeat args), error (with
enum severity incl. the UNKNOWN(v) default), citation (1- and 2-cite
repeats), metric (derived tokens_per_sec), handoff v1+v2 (version
marker), and sink_unmatched (classified-but-malformed rows,
``payload_decoder.py:111-113`` warn-and-continue analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import QUERIES, _register, _t, cents

# ---------------------------------------------------------------------------
# deterministic transcripts derived from the events table (both engines)
# ---------------------------------------------------------------------------

# One CTE string shared by the oracles below: conv_id/turn_idx/role/
# tool/text built from (user_id, event_id, event_type, value, props)
# with integer-only arithmetic. `k` comes out of the props JSON; cents
# = floor(value*100 + 0.5) is exact for the 2-decimal synthetic values.
_TURNS_CTE = """
    base AS (
      SELECT 'conv-' || CAST(user_id AS VARCHAR)          AS conv_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
                  AS INTEGER)                             AS turn_idx,
             user_id, event_id, event_type,
             CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
             CAST(floor(value * 100 + 0.5) AS BIGINT)     AS cents
      FROM events
    ),
    turns AS (
      SELECT conv_id, turn_idx,
        CASE event_type WHEN 'click' THEN 'user' WHEN 'error' THEN 'system'
             WHEN 'view' THEN 'assistant' WHEN 'purchase' THEN 'tool'
             ELSE 'assistant' END AS role,
        CASE WHEN event_type = 'click' THEN 'search'
             WHEN event_type = 'purchase' THEN 'sql' END AS tool,
        CASE
          WHEN event_type = 'click'
            THEN printf('CALL search args={q=%d n=%d}', k, cents % 10)
          WHEN event_type = 'error' AND event_id % 13 = 0
            THEN printf('ERROR malformed %d', event_id)
          WHEN event_type = 'error'
            THEN printf('ERROR code=%d severity=%d msg=''event %d''',
                        cents % 1000, k % 6 + 1, event_id)
          WHEN event_type = 'view' AND k % 2 = 0
            THEN printf('see [doc-%d#%d] and [doc-%d#%d]',
                        k, event_id % 7, k + 1, event_id % 5)
          WHEN event_type = 'view'
            THEN printf('see [doc-%d#%d]', k, event_id % 7)
          WHEN event_type = 'purchase'
            THEN printf('latency_ms=%d tokens=%d', cents, k)
          WHEN k % 3 = 0
            THEN printf('HANDOFF v=2 to=agent%d reason=escalation priority=%d',
                        k % 4, k % 10)
          ELSE printf('HANDOFF to=agent%d reason=timeout', k % 4)
        END AS text
      FROM base
    )
"""

# the registry regexes, RE2-compatible (named groups dropped; group
# numbering identical to registry.py — asserted by tests)
_RX = {
    "tool_call": r"^CALL ([A-Za-z0-9_]+) args=\{([^}]*)\}$",
    "error": r"^ERROR code=([0-9]+) severity=([0-9]) msg=''([^'']*)''$",
    "citation": r"^see (\[doc-[0-9]+#[0-9]+\](?: and \[doc-[0-9]+#[0-9]+\])*)$",
    "metric": r"^latency_ms=([0-9.]+) tokens=([0-9]+)$",
    "handoff1": r"^HANDOFF to=([A-Za-z0-9_]+) reason=([A-Za-z0-9_]+)$",
    "handoff2": r"^HANDOFF v=2 to=([A-Za-z0-9_]+) reason=([A-Za-z0-9_]+) priority=([0-9])$",
}


def events_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of the shared construction above. Column-for-
    column identical to the ``turns`` CTE (tests/test_duckdb_parity)."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("long")
    cents_c = cents("value")
    et = F.col("event_type")
    eid = F.col("event_id")
    text = (
        F.when(et == "click",
               F.format_string("CALL search args={q=%d n=%d}", k, cents_c % 10))
        .when((et == "error") & (eid % 13 == 0),
              F.format_string("ERROR malformed %d", eid))
        .when(et == "error",
              F.format_string("ERROR code=%d severity=%d msg='event %d'",
                              cents_c % 1000, k % 6 + 1, eid))
        .when((et == "view") & (k % 2 == 0),
              F.format_string("see [doc-%d#%d] and [doc-%d#%d]",
                              k, eid % 7, k + 1, eid % 5))
        .when(et == "view", F.format_string("see [doc-%d#%d]", k, eid % 7))
        .when(et == "purchase", F.format_string("latency_ms=%d tokens=%d", cents_c, k))
        .when(k % 3 == 0,
              F.format_string("HANDOFF v=2 to=agent%d reason=escalation priority=%d",
                              k % 4, k % 10))
        .otherwise(F.format_string("HANDOFF to=agent%d reason=timeout", k % 4))
    )
    role = (
        F.when(et == "click", "user")
        .when(et == "error", "system")
        .when(et == "view", "assistant")
        .when(et == "purchase", "tool")
        .otherwise("assistant")
    )
    tool = F.when(et == "click", "search").when(et == "purchase", "sql")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


# ---------------------------------------------------------------------------
# the flagship pipeline, oracle-checked end to end
# ---------------------------------------------------------------------------

_PIPELINE_SQL = f"""
    WITH {_TURNS_CTE},
    classified AS (
      SELECT *,
        CASE WHEN text LIKE 'CALL %' THEN 'tool_call'
             WHEN text LIKE 'ERROR %' THEN 'error'
             WHEN text LIKE 'see [%' THEN 'citation'
             WHEN text LIKE 'latency_ms=%' THEN 'metric'
             WHEN text LIKE 'HANDOFF %' THEN 'handoff' END AS pattern_class
      FROM turns
    ),
    versioned AS (
      SELECT *,
        CASE WHEN pattern_class IS NULL THEN NULL
             WHEN regexp_matches(text, ' v=([0-9]+) ')
               THEN CAST(regexp_extract(text, ' v=([0-9]+) ', 1) AS INTEGER)
             ELSE 1 END AS version
      FROM classified
    ),
    parsed AS (
      SELECT *,
        CASE pattern_class
          WHEN 'tool_call' THEN regexp_matches(text, '{_RX["tool_call"]}')
          WHEN 'error'     THEN regexp_matches(text, '{_RX["error"]}')
          WHEN 'citation'  THEN regexp_matches(text, '{_RX["citation"]}')
          WHEN 'metric'    THEN regexp_matches(text, '{_RX["metric"]}')
          WHEN 'handoff'   THEN CASE WHEN version = 2
                 THEN regexp_matches(text, '{_RX["handoff2"]}')
                 ELSE regexp_matches(text, '{_RX["handoff1"]}') END
          ELSE FALSE END AS matched
      FROM versioned
    ),
    extracted AS (
      SELECT conv_id, turn_idx, role, tool, pattern_class, version, matched,
        CASE WHEN matched AND pattern_class = 'tool_call'
             THEN regexp_extract(text, '{_RX["tool_call"]}', 1) END AS tool_name,
        CASE WHEN matched AND pattern_class = 'tool_call'
             THEN regexp_extract(text, '{_RX["tool_call"]}', 2) END AS args,
        CASE WHEN matched AND pattern_class = 'error'
             THEN regexp_extract(text, '{_RX["error"]}', 1) END AS code,
        CASE WHEN matched AND pattern_class = 'error'
             THEN regexp_extract(text, '{_RX["error"]}', 2) END AS severity,
        CASE WHEN matched AND pattern_class = 'error'
             THEN regexp_extract(text, '{_RX["error"]}', 3) END AS msg,
        CASE WHEN matched AND pattern_class = 'citation'
             THEN regexp_extract(text, '{_RX["citation"]}', 1) END AS cites,
        CASE WHEN matched AND pattern_class = 'metric'
             THEN regexp_extract(text, '{_RX["metric"]}', 1) END AS latency_ms,
        CASE WHEN matched AND pattern_class = 'metric'
             THEN regexp_extract(text, '{_RX["metric"]}', 2) END AS tokens,
        CASE WHEN matched AND pattern_class = 'handoff' THEN
             CASE WHEN version = 2 THEN regexp_extract(text, '{_RX["handoff2"]}', 1)
                  ELSE regexp_extract(text, '{_RX["handoff1"]}', 1) END END AS to_role,
        CASE WHEN matched AND pattern_class = 'handoff' THEN
             CASE WHEN version = 2 THEN regexp_extract(text, '{_RX["handoff2"]}', 2)
                  ELSE regexp_extract(text, '{_RX["handoff1"]}', 2) END END AS reason,
        CASE WHEN matched AND pattern_class = 'handoff' AND version = 2
             THEN regexp_extract(text, '{_RX["handoff2"]}', 3) END AS priority
      FROM parsed
    )
    SELECT e.conv_id, e.turn_idx, e.role, e.tool, e.pattern_class, e.version,
           e.matched,
           CASE WHEN e.pattern_class IS NULL OR NOT e.matched THEN 'sink_unmatched'
                ELSE CASE e.pattern_class
                  WHEN 'tool_call' THEN 'sink_tool_calls'
                  WHEN 'error' THEN 'sink_errors'
                  WHEN 'citation' THEN 'sink_citations'
                  WHEN 'metric' THEN 'sink_metrics'
                  WHEN 'handoff' THEN 'sink_handoffs' END END AS route,
           dr.role_class, dr.weight, dt.tool_family, dt.risk_level,
           e.tool_name, e.args, e.code, e.severity,
           CASE WHEN e.severity IS NULL THEN NULL
                WHEN e.severity = '1' THEN 'debug'
                WHEN e.severity = '2' THEN 'info'
                WHEN e.severity = '3' THEN 'warn'
                WHEN e.severity = '4' THEN 'error'
                WHEN e.severity = '5' THEN 'fatal'
                ELSE 'UNKNOWN(' || e.severity || ')' END AS severity_friendly,
           e.msg, e.cites, e.latency_ms, e.tokens, e.to_role, e.reason,
           e.priority,
           CASE WHEN e.pattern_class = 'metric' AND e.latency_ms IS NOT NULL
                     AND CAST(e.latency_ms AS DOUBLE) > 0
                THEN ROUND(CAST(e.tokens AS BIGINT)
                           / (CAST(e.latency_ms AS DOUBLE) / 1000.0), 2)
           END AS tokens_per_sec
    FROM extracted e
    LEFT JOIN (VALUES ('user','human',1),('assistant','model',1),
                      ('system','infra',0),('tool','infra',2))
           AS dr(role, role_class, weight) ON e.role = dr.role
    LEFT JOIN (VALUES ('search','retrieval',1),('bash','exec',3),
                      ('editor','exec',2),('browser','retrieval',1),
                      ('sql','query',2))
           AS dt(tool, tool_family, risk_level) ON e.tool = dt.tool
"""


@_register("q_pl_routed_events", _PIPELINE_SQL)
def q_pl_routed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL pipeline (the shipped registry picks the compiled-JVM
    extractor) over events-derived transcripts, flattened for
    the oracle compare."""
    from .plans.pipeline import build_routed

    routed = build_routed(spark, events_transcripts(spark, sf_dir))
    ex = lambda g: F.col(f"extracted.{g}").alias(g)  # noqa: E731
    return routed.select(
        "conv_id", "turn_idx", "role", "tool", "pattern_class", "version",
        "matched", "route", "role_class", "weight", "tool_family", "risk_level",
        ex("tool_name"), ex("args"), ex("code"), ex("severity"),
        "severity_friendly", ex("msg"), ex("cites"), ex("latency_ms"),
        ex("tokens"), ex("to_role"), ex("reason"), ex("priority"),
        "tokens_per_sec",
    )


# ---------------------------------------------------------------------------
# repeat-group explode over the same derived input (§2.8, oracle-checked)
# ---------------------------------------------------------------------------

_REPEATS_SQL = f"""
    WITH {_TURNS_CTE},
    hits AS (
      SELECT conv_id, turn_idx, 'tool_call' AS pattern_class, 1 AS version,
             'arg_key' AS field1_name, 'arg_val' AS field2_name,
             regexp_extract_all(text, '([A-Za-z0-9_]+)=([0-9]+)', 1) AS k1,
             regexp_extract_all(text, '([A-Za-z0-9_]+)=([0-9]+)', 2) AS k2
      FROM turns WHERE regexp_matches(text, '{_RX["tool_call"]}')
      UNION ALL
      SELECT conv_id, turn_idx, 'citation', 1, 'doc', 'page',
             regexp_extract_all(text, '\\[doc-([0-9]+)#([0-9]+)\\]', 1),
             regexp_extract_all(text, '\\[doc-([0-9]+)#([0-9]+)\\]', 2)
      FROM turns WHERE regexp_matches(text, '{_RX["citation"]}')
    ),
    numbered AS (
      SELECT conv_id, turn_idx, pattern_class, version,
             field1_name, field2_name, k1, k2,
             unnest(generate_series(1, len(k1))) AS idx
      FROM hits
    )
    SELECT conv_id, turn_idx, pattern_class, version,
           CAST(idx - 1 AS INTEGER) AS record_idx,
           field1_name, k1[idx] AS field1_value,
           field2_name, k2[idx] AS field2_value
    FROM numbered
"""


@_register("q_pl_repeat_records", _REPEATS_SQL)
def q_pl_repeat_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_repeats`` (the repeating-record expansion of
    ``payload_decoder.py:133-209``) on the events-derived transcripts,
    against a DuckDB unnest-with-ordinality oracle."""
    from .operators.parse import explode_repeats, parse_auto

    return explode_repeats(parse_auto(spark, events_transcripts(spark, sf_dir)))


# ---------------------------------------------------------------------------
# W1/W5 window features over events (oracle-checked ordered-window ops)
# ---------------------------------------------------------------------------

@_register(
    "q_w1_event_features",
    """
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS INTEGER) AS turn_number,
           lag(event_type)  OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
             - lag(CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)) OVER w
             AS seconds_since_prev,
           last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_event,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS running_value_c,
           COUNT(*)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def q_w1_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conv-partitioned, turn-ordered window features (W1 stable order +
    W5 running context + running cents sum) over the events table —
    the oracle-checked sibling of ``q_w1_turn_features``. The running
    sum is BIGINT cents: exact, order-independent within the window
    frame, and decimal-free (decimal outputs hash-fail in the driver's
    comparator even with identical values)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    secs = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast("long")
    return ev.select(
        "user_id", "event_id",
        F.row_number().over(w).cast("int").alias("turn_number"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (secs - F.lag(secs).over(w)).alias("seconds_since_prev"),
        F.last(F.when(F.col("event_type") == "purchase", F.col("event_id")), ignorenulls=True)
        .over(cum).alias("last_purchase_event"),
        F.sum(cents("value")).over(cum).alias("running_value_c"),
        F.count(F.lit(1)).over(cum).alias("running_cnt"),
    )


# ---------------------------------------------------------------------------
# skew: salted two-phase aggregate under the strong gate
# ---------------------------------------------------------------------------

@_register(
    "q_skew_salted_counts",
    """
    SELECT l_returnflag AS k, COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregate over a deliberately skewed key
    (3 distinct l_returnflag values over all of lineitem — exactly the
    hot-conv_id shape): phase 1 spreads each key over salt buckets,
    phase 2 de-salts. The salt must vanish from the result — the oracle
    is the plain one-phase GROUP BY. Quantity sum in BIGINT cents, so
    the two-phase re-aggregation is exact and decimal-free."""
    li = _t(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(32))
    )
    partial = salted.groupBy(F.col("l_returnflag").alias("k"), "_salt").agg(
        F.count(F.lit(1)).alias("_pn"),
        F.sum(cents("l_quantity")).alias("_pq"),
    )
    return partial.groupBy("k").agg(
        F.sum("_pn").alias("n"),
        F.sum("_pq").alias("sum_qty_c"),
    )


# ---------------------------------------------------------------------------
# training-data prep: deterministic split / sample / packing (oracle-checked)
# ---------------------------------------------------------------------------

@_register(
    "q_td_hash_split",
    """
    WITH b AS (
      SELECT source,
             CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM b GROUP BY 1, 2
    """,
)
def q_td_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test split (90/5/5): leakage-free,
    rerun- and partitioning-stable, reproduced bit-for-bit by the
    DuckDB oracle (md5 agrees across engines; xxhash64 would not)."""
    from .operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id", {"train": 90, "val": 5, "test": 5})
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "q_td_deterministic_sample",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 100 < 7
    """,
)
def q_td_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~7% content-hash sample — the same rows on every run at every
    parallelism (RNG-free)."""
    from .operators.sampling import deterministic_sample

    d = _t(spark, sf_dir, "documents")
    return deterministic_sample(d, "doc_id", 7).select("doc_id", "lang", "n_chars")


@_register(
    "q_td_pack_sequences",
    """
    WITH packed AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS start
      FROM documents
    )
    SELECT source,
           CAST(floor(start / 4000) AS INTEGER) AS pack_bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_packed,
           MIN(doc_id) AS first_doc
    FROM packed GROUP BY source, pack_bin
    """,
)
def q_td_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing into 4000-char bins per source
    (the context-window packing step of a training pipeline), rolled up
    per bin."""
    from .operators.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents")
    p = pack_sequences(d, group="source", order="doc_id", size_col="n_chars", max_len=4000)
    return p.groupBy("source", "pack_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_packed"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# the corpus-curation composite (second flagship), oracle-checked
# ---------------------------------------------------------------------------

_QUALITY_EXPR = """
  ROUND(
    LEAST(length(text) / 500.0, 1.0) * 0.4
    + LEAST((CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) > 0
             THEN 1.0 * len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''),
                            t -> t IN ('the','a','and','of','to','in','is','it')))
                  / len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))
             ELSE 0.0 END) * 4, 1.0) * 0.3
    + GREATEST(1.0 - (CASE WHEN length(text) > 0
                      THEN 1.0 * (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                      ELSE 0.0 END) * 5, 0.0) * 0.3,
  4)
"""

@_register(
    "q_corpus_stats",
    f"""
    WITH q AS (
      SELECT source, doc_id, n_chars,
             {_QUALITY_EXPR} AS quality,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents
    ),
    kept AS (SELECT * FROM q WHERE quality >= 0.5),
    reps AS (
      SELECT * FROM kept
      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    ),
    sp AS (
      SELECT *, CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
      FROM (SELECT *,
              CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 100 AS b
            FROM reps)
    ),
    packed AS (
      SELECT source, split, n_chars, quality,
             SUM(n_chars) OVER (PARTITION BY source, split ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS start
      FROM sp
    )
    SELECT source, split, COUNT(*) AS n_docs,
           CAST(MAX(floor(start / 4000)) + 1 AS INTEGER) AS n_bins,
           CAST(SUM(n_chars) AS BIGINT) AS chars_packed,
           CAST(SUM(ROUND(quality * 10000)) AS BIGINT) AS sum_quality_e4
    FROM packed GROUP BY source, split
    """,
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation composite end to end (quality filter →
    md5 exact-dedup → hash split → context packing → stats) — the
    training-data flagship under the strong gate."""
    from .plans.corpus import corpus_stats, curate

    d = _t(spark, sf_dir, "documents")
    return corpus_stats(curate(d, min_quality=0.5, max_len=4000))


# ---------------------------------------------------------------------------
# exact ANN via BLAS kernel — same oracle as the expression-based exact path
# ---------------------------------------------------------------------------

@_register(
    "q_sim_gemm_topk",
    """
    WITH sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
)
def q_sim_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 via the per-partition GEMM kernel + global
    candidate merge — must equal the expression-based exact path
    (shares q_sim_topk's oracle)."""
    from .operators import similarity
    from .queries import _spread

    e = _spread(spark, _t(spark, sf_dir, "embeddings"))
    return similarity.gemm_topk(e, e.filter(F.col("vec_id") < 5), k=3)


@_register("q_sim_pq_topk", None)  # approx — rows-only driver check
def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (per-subspace-trained codebooks →
    encode → ADC lookup-table scan → exact re-rank of survivors) — the
    embedding-compression scale path; pytest measures recall against
    the exact path (0.93 at sf0.001, 1.0 at sf0.01 with the defaults)."""
    from .operators import similarity
    from .queries import _spread

    e = _spread(spark, _t(spark, sf_dir, "embeddings"))
    return similarity.pq_topk(e, e.filter(F.col("vec_id") < 5), k=3)


# ---------------------------------------------------------------------------
# R4: Structured Streaming under the oracle gate
# ---------------------------------------------------------------------------

@_register(
    "q_r4_stream_hourly",
    """
    SELECT 'hourly' AS kind,
           event_type AS key,
           CAST((epoch_us(ts) // 3600000000) * 3600 AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(0 AS BIGINT) AS metric
    FROM events GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'ssj', CAST(user_id AS VARCHAR), MIN(view_id),
           COUNT(*), CAST(SUM(lag_sec) AS BIGINT)
    FROM (
      SELECT l.event_id AS view_id, l.user_id AS user_id,
             CAST((epoch_us(r.ts) - epoch_us(l.ts)) // 1000000 AS BIGINT)
               AS lag_sec
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
      WHERE l.event_type = 'view' AND r.event_type = 'purchase'
    ) GROUP BY user_id
    """,
)
def q_r4_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming (R4) value-checked against a batch oracle,
    two constituents kind-tagged onto one frame:

    - ``hourly`` — readStream over the events parquet → stateful
      hourly aggregate → availableNow drain into a memory sink
      (complete mode). The final streaming state must equal the plain
      batch GROUP BY — the micro-batch incremental aggregation is
      exercised for real (maxFilesPerTrigger on a multi-file copy is
      covered in tests/test_checkpoint_streaming.py; the driver table
      is one file).
    - ``ssj`` — the stream-stream watermarked interval join
      (q_ss_interval_join's registered callable verbatim: two
      readStream sources, symmetric stateful hash join on user_id
      within 1 hour, append-mode drain), aggregated per user so the
      pair count AND the summed lag pin the row-level pairing against
      the oracle's batch interval join. The full row-level variant
      stays registered (q_ss_interval_join) and parity-checked."""
    import os
    import tempfile
    import uuid

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file streaming source requires a DIRECTORY; expose the table
    # file through a throwaway symlink dir
    d = tempfile.mkdtemp(prefix="q_r4_src_")
    os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"),
               os.path.join(d, "events.parquet"))
    src = spark.readStream.schema(schema).parquet(d)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    agg = src.groupBy(
        (F.floor(us / 3_600_000_000) * 3600).cast("long").alias("hour_epoch"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    name = f"q_r4_mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)  # source fully drained
    # materialize the (bounded: hours × event_types) final state and DROP
    # the memory sink — repeated invocations must not accumulate
    # session-lifetime temp views, and the returned frame must not depend
    # on the sink staying registered
    sink = spark.table(name)
    rows = sink.collect()
    hourly = spark.createDataFrame(rows, sink.schema)
    spark.catalog.dropTempView(name)

    pairs = q_ss_interval_join(spark, sf_dir)
    ssj = pairs.groupBy("user_id").agg(
        F.min("view_id").alias("bucket"),
        F.count(F.lit(1)).alias("n"),
        F.sum("lag_sec").alias("metric"),
    )
    return hourly.select(
        F.lit("hourly").alias("kind"),
        F.col("event_type").alias("key"),
        F.col("hour_epoch").cast("long").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.lit(0).cast("long").alias("metric"),
    ).unionByName(
        ssj.select(
            F.lit("ssj").alias("kind"),
            F.col("user_id").cast("string").alias("key"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.col("metric").cast("long").alias("metric"),
        )
    )


@_register(
    "q_ss_interval_join",
    """
    SELECT l.event_id AS view_id, r.event_id AS purchase_id,
           l.user_id AS user_id,
           CAST((epoch_us(r.ts) - epoch_us(l.ts)) // 1000000 AS BIGINT)
             AS lag_sec
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    WHERE l.event_type = 'view' AND r.event_type = 'purchase'
    """,
)
def q_ss_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join (R4 family) under the
    oracle gate: TWO readStream sources over the events table — the
    view stream joined to the purchase stream on user_id within 1 hour
    via ``streaming/stream.py::stream_interval_join`` (symmetric
    stateful hash join; state bounded by watermark + bound, evicted by
    event time) — drained availableNow into an append-mode memory
    sink. The emitted pair set must equal the plain batch interval
    join the DuckDB oracle runs; cross-micro-batch pairing and
    left-outer horizon semantics are pinned in
    tests/test_checkpoint_streaming.py."""
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming.stream import stream_interval_join

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    dirs: list[str] = []

    def src() -> DataFrame:
        # the file streaming source requires a DIRECTORY (one per
        # stream — each side keeps independent source offsets)
        d = tempfile.mkdtemp(prefix="q_ss_src_")
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            os.path.join(d, "events.parquet"),
        )
        dirs.append(d)
        return spark.readStream.schema(schema).parquet(d)

    # watermarks require TIMESTAMP; the table stores TIMESTAMP_NTZ —
    # the cast is value-stable (session timezone pinned to UTC) and the
    # output carries only the lag difference, not the instants
    views = (
        src()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    buys = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("r_ts"),
        )
    )
    joined = stream_interval_join(
        views, buys, key="user_id", left_ts="ts", right_ts="r_ts",
        upper="1 hour", watermark="40 days",  # covers the 30-day table
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        # div = integer division on longs; both sides non-negative so
        # trunc ≡ floor and DuckDB's BIGINT // agrees exactly
        F.expr("(unix_micros(r_ts) - unix_micros(ts)) div 1000000")
        .cast("long")
        .alias("lag_sec"),
    )
    name = f"q_ss_mem_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)  # sources fully drained
    sink = spark.table(name)
    rows = sink.collect()
    out = spark.createDataFrame(rows, sink.schema)
    spark.catalog.dropTempView(name)
    return out


@_register(
    "q_skew_hot_join",
    """
    WITH dim(k, tier) AS (VALUES ('A', 'accept'), ('N', 'none'), ('R', 'reject')),
         j AS (SELECT l.l_returnflag AS k, d.tier, l.l_quantity
               FROM lineitem l JOIN dim d ON l.l_returnflag = d.k)
    SELECT k, tier, COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c
    FROM j GROUP BY k, tier
    """,
)
def q_skew_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven hot-key salted join (operators/skew.py): every
    l_returnflag value is a heavy hitter (3 keys over all of lineitem —
    the hot-conv_id shape), so approx_top_k routes them all through the
    salted path; the salt must vanish from the result. Oracle is the
    plain SQL join + GROUP BY."""
    from .operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("k"), "l_quantity"
    )
    dim = spark.createDataFrame(
        [("A", "accept"), ("N", "none"), ("R", "reject")], "k string, tier string"
    )
    return (
        salted_join(li, dim, "k", salt_buckets=16, how="inner")
        .groupBy("k", "tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
        )
    )


# ---------------------------------------------------------------------------
# log mining: template discovery + multiline record assembly
# ---------------------------------------------------------------------------

_TEMPLATES_SQL = f"""
    WITH {_TURNS_CTE}
    SELECT regexp_replace(regexp_replace(text, '0x[0-9a-fA-F]+', '<HEX>', 'g'),
                          '[0-9]+', '<N>', 'g') AS template,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
           MIN(text) AS example
    FROM turns GROUP BY 1
"""


@_register("q_log_templates", _TEMPLATES_SQL)
def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-style log template mining — the inverse of the registry
    decode: DISCOVER the pattern inventory by masking variable tokens
    (hex → <HEX> before digits → <N>) and grouping on the constant
    skeleton. This is how the reference's message-ID → field-layout
    registry would be bootstrapped from an unlabeled log corpus. One
    groupBy whose key cardinality is the template-inventory size, so
    map-side combine collapses the shuffle at any corpus scale."""
    from .operators.logmine import mine_templates

    return mine_templates(events_transcripts(spark, sf_dir))


_MULTILINE_SQL = f"""
    WITH {_TURNS_CTE},
    numbered AS (
      SELECT conv_id, turn_idx, text,
             SUM(CASE WHEN text LIKE 'see [%' THEN 0 ELSE 1 END)
               OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rec_id
      FROM turns
    )
    SELECT conv_id,
           CAST(rec_id AS BIGINT) AS rec_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(turn_idx) AS INTEGER) AS start_turn,
           string_agg(text, chr(10) ORDER BY turn_idx) AS record
    FROM numbered GROUP BY conv_id, rec_id
"""


@_register("q_log_multiline", _MULTILINE_SQL)
def q_log_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline record assembly (the logstash-multiline / stack-trace
    pre-parse stage): citation lines ("see [doc-…]") are continuation
    lines folded into the preceding anchor record via a running
    SUM(is_start) window inside each conversation, then ONE ordered
    concat per record (array_sort on struct(turn_idx, text) — exact
    order however collect_list saw the rows). Records never span
    conversations, so window state stays bounded at any scale."""
    from .operators.logmine import assemble_records

    t = events_transcripts(spark, sf_dir)
    return assemble_records(
        t, is_start=~F.col("text").like("see [%")
    ).select("conv_id", "rec_id", "n_lines", "start_turn", "record")


_DRIFT_SQL = f"""
    WITH {_TURNS_CTE},
    m AS (
      SELECT regexp_replace(regexp_replace(text, '0x[0-9a-fA-F]+', '<HEX>', 'g'),
                            '[0-9]+', '<N>', 'g') AS template,
             CAST(substr(conv_id, 6) AS BIGINT) % 2 AS b
      FROM turns
    )
    SELECT template,
           CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CASE WHEN SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) = 0 THEN 'appeared'
                WHEN SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) = 0 THEN 'vanished'
                ELSE 'both' END AS status
    FROM m GROUP BY template
"""


@_register("q_log_template_drift", _DRIFT_SQL)
def q_log_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-inventory drift between two corpus slices (here: even
    vs odd conversations — the deploy-A/deploy-B shape): per-template
    counts on each side plus appeared/vanished/both status — the
    release-regression signal. ONE conditional aggregate over one
    corpus pass; no join of separately-mined inventories."""
    from .operators.logmine import template_drift

    t = events_transcripts(spark, sf_dir)
    side = F.substring("conv_id", 6, 20).cast("long") % 2 == 1
    return template_drift(t, side=side)
