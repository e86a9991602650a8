"""Vectorized parse stage: classify (JVM) + extract.

Two sub-stages, mirroring the reference's decode pipeline
(``hex_decoder_module/decoder/payload_decoder.py:32-131``):

1. **classify** — the header-decode analog
   (``decoder/header_decoder.py:21-60``): derive ``pattern_class`` and
   ``version`` with cheap built-in column expressions (prefix tests,
   ``rlike``). Kept JVM-side deliberately: Catalyst folds these into
   the scan stage (whole-stage codegen) and the routing key is then
   available for pruning and routing *without* touching Python. The
   prefix dispatch is registry DATA (``Pattern.prefix``), not code.

2. **extract** — the field-decoder analog
   (``decoder/field_decoder.py:14-114``). The registry picks the
   engine (:func:`choose_extractor`, applied by :func:`parse_auto`):

   * ``jvm`` — :func:`parse_builtin` compiles the registry into
     built-in ``regexp_extract`` expressions (no Python in the plan),
     when every regex is engine-portable and compiles under
     ``java.util.regex``;
   * ``pandas`` — :func:`parse`, ONE Arrow-batched pandas UDF running
     pandas ``str.extract`` (Python ``re``) once per (class, version)
     over the masked slice of each batch — no per-row Python dispatch.
     Patterns compile once per executor process via a spec-keyed
     module cache, the analog of the reference's LRU metadata cache
     (``icd_parser/cache.py``) — except immutable, so no eviction.
     This is also the reference the pure-Python oracle mirrors.

**The registry is injectable**: every stage (classify, both
extractors, repeat explode, enums, route) takes a ``patterns`` tuple
defaulting to the module registry — a new or extended registry needs
no code or plan changes (tests/test_custom_registry.py runs a disjoint
registry end to end).

Output layout: instead of the reference's name-mangled flat fields
(``"{name} (Record {i})"``), extraction lands in a typed struct column
``extracted`` (one field per registry group, null when not applicable)
plus ``repeats: array<array<string>>`` for repeat-group matches, which
``explode_repeats`` turns into real rows with a ``record_idx`` column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..registry import PATTERNS, Pattern, all_groups, class_prefixes

# ---------------------------------------------------------------------------
# 1. classify — routing-key + version derivation, all built-in expressions
# ---------------------------------------------------------------------------

def classify_columns(
    text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> dict[str, Column]:
    """The ``pattern_class`` and ``version`` expressions (JVM-side
    only). The dispatch chain is built from the registry's ``prefix``
    data."""
    dispatched = {cls for _pre, cls in class_prefixes(patterns)}
    orphans = sorted({p.pattern_class for p in patterns} - dispatched)
    if orphans:
        # a class no prefix dispatches to would silently quarantine
        # 100% of its rows — fail loudly (same discipline as the
        # empty-groups check in _make_extract_udf)
        raise ValueError(
            f"registry classes {orphans} have no pattern with a `prefix` — "
            "classify could never assign them"
        )
    t = F.col(text_col)
    pattern_class = None
    for prefix, cls in class_prefixes(patterns):
        cond = t.startswith(prefix)
        pattern_class = (
            F.when(cond, cls) if pattern_class is None else pattern_class.when(cond, cls)
        )
    pattern_class = (
        pattern_class.otherwise(F.lit(None).cast("string"))
        if pattern_class is not None
        else F.lit(None).cast("string")
    )
    # version resolution: the payload is self-describing — a "v=N"
    # marker selects the layout (analog of version_resolver.py:13-56);
    # absent marker → version 1 (the coalesce fallback of J2).
    # ASCII-explicit boundaries (no \b/\d): Java and Python disagree on
    # Unicode word/digit tables (different Unicode versions), so the
    # registry spec pins the marker charset — identical in any engine.
    version = F.coalesce(
        F.nullif(
            F.regexp_extract(t, r"(?<![A-Za-z0-9_])v=([0-9]+)(?![A-Za-z0-9_])", 1), F.lit("")
        ).cast("int"),
        F.lit(1),
    )
    return {
        "pattern_class": pattern_class,
        "version": F.when(pattern_class.isNull(), F.lit(None).cast("int")).otherwise(version),
    }


def classify(
    df: DataFrame, text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> DataFrame:
    """Add ``pattern_class`` and ``version`` columns (JVM-side only)."""
    return df.withColumns(classify_columns(text_col, patterns))


# ---------------------------------------------------------------------------
# 2. extract — one Arrow-batched pandas UDF over (text, class, version)
# ---------------------------------------------------------------------------

# repeats travel Python→JVM as ONE delimited string (US/RS separators)
# instead of array<array<string>>: nested-array Arrow→UnsafeRow conversion
# dominated the UDF cost; the JVM rebuilds the nested array with split().
_REC_SEP = "\x1e"  # between records
_FLD_SEP = "\x1f"  # between fields of a record


def _registry_spec(patterns: tuple[Pattern, ...]):
    """Immutable, picklable registry spec shipped inside the UDF
    closure (what the executor compiles from)."""
    return tuple(
        (p.pattern_class, p.version, p.regex, p.repeat_group, tuple(p.groups))
        for p in patterns
    )


# per-executor compiled-pattern cache, keyed by registry spec
_COMPILED: dict[tuple, dict] = {}


def _compiled_for(spec) -> dict:
    reg = _COMPILED.get(spec)
    if reg is None:
        import re

        reg = {
            (cls, ver): (re.compile(rx), re.compile(rep) if rep else None, groups)
            for (cls, ver, rx, rep, groups) in spec
        }
        _COMPILED[spec] = reg
    return reg


# driver-side UDF cache so repeated parse() calls reuse one UDF object
_UDF_CACHE: dict[tuple, tuple] = {}


def _make_extract_udf(patterns: tuple[Pattern, ...]):
    """Build (udf, groups) for a registry — the registry-as-data path:
    the spec travels in the closure, compilation happens lazily on each
    executor, and a different registry is just a different spec."""
    for p in patterns:
        if not p.groups:
            # the match test is "first group is non-null" — a pattern
            # without captures would silently never match; fail loudly
            # (the LogcodeNotFoundError discipline, payload_decoder.py:49-57)
            raise ValueError(
                f"registry pattern {p.pattern_class} v{p.version} has no "
                "capture groups — every pattern needs at least one"
            )
    spec = _registry_spec(patterns)
    if spec in _UDF_CACHE:
        return _UDF_CACHE[spec]
    groups_all = all_groups(patterns)
    schema = T.StructType(
        [T.StructField("matched", T.BooleanType())]
        + [T.StructField(g, T.StringType()) for g in groups_all]
        + [T.StructField("repeats_enc", T.StringType())]
    )

    def _run(text: pd.Series, cls: pd.Series, ver: pd.Series) -> pd.DataFrame:
        import warnings

        import numpy as np

        reg = _compiled_for(spec)
        n = len(text)
        positions = np.arange(n)
        matched_out = np.zeros(n, dtype=bool)
        group_out = {g: np.full(n, None, dtype=object) for g in groups_all}
        repeats_out = np.full(n, None, dtype=object)

        cls_vals = cls.to_numpy(dtype=object)
        ver_vals = ver.to_numpy()
        text_reset = text.reset_index(drop=True)
        for (pclass, pver), (rx, repeat_rx, groups) in reg.items():
            mask = (cls_vals == pclass) & (ver_vals == pver)
            if not mask.any():
                continue
            pos = positions[mask]
            sub = text_reset.iloc[pos]
            # one vectorized pass per pattern per Arrow batch
            hit = sub.str.extract(rx)
            # whole-regex validity, NOT first-group-non-null: an injectable
            # registry may make its first capture optional ('(?P<a>x)? y'),
            # and jvm (rlike) would count that row matched. str.contains
            # shares str.extract's re.search anchor semantics, so the mask
            # is exact.
            with warnings.catch_warnings():
                # pandas warns that a grouped pattern "should use str.extract";
                # here contains-for-the-mask + extract-for-values is deliberate
                warnings.simplefilter("ignore", UserWarning)
                ok = sub.str.contains(rx).fillna(False).to_numpy(dtype=bool)
            hit_pos = pos[ok]
            matched_out[hit_pos] = True
            for g in groups:
                group_out[g][hit_pos] = hit[g].to_numpy(dtype=object)[ok]
            if repeat_rx is not None and len(hit_pos):
                findall = repeat_rx.findall
                found = np.empty(len(hit_pos), dtype=object)
                found[:] = [
                    _REC_SEP.join(
                        _FLD_SEP.join(t) if isinstance(t, tuple) else t for t in findall(s)
                    )
                    for s in text_reset.iloc[hit_pos]
                ]
                repeats_out[hit_pos] = found

        out = {"matched": matched_out}
        out.update(group_out)
        out["repeats_enc"] = repeats_out
        return pd.DataFrame(out)

    udf = pandas_udf(schema)(_run)
    _UDF_CACHE[spec] = (udf, groups_all)
    return udf, groups_all


# regex constructs whose semantics diverge between Python re and
# java.util.regex (shorthand classes track different Unicode tables;
# inline flags and group backrefs behave differently) — a registry
# using any of these stays on the pandas (Python-re) engine, whose
# semantics the oracle mirrors.
_ENGINE_DIVERGENT = (
    r"\w", r"\W", r"\d", r"\D", r"\s", r"\S", r"\b", r"\B",
    "(?i", "(?u", "(?a", "(?L", "(?m", "(?s", "(?x", "(?P=", "(?<=", "(?<!",
)


def _has_optional_capture(regex: str) -> bool:
    """True when some CAPTURE group can match without participating —
    quantified with min=0, or inside one alternation branch. For such a
    group pandas yields NULL while ``regexp_extract`` yields ""
    (indistinguishable from a legitimately-empty match),
    so the registry must stay on the pandas engine. Detected from the
    ``re`` parse tree — a textual ")?"-scan would misflag the safe
    non-capture ``(?:...)*``."""
    try:
        import re as _re

        parser = getattr(_re, "_parser", None)
        if parser is None:  # pragma: no cover — pre-3.11 fallback
            import sre_parse as parser
        tree = parser.parse(regex)
    except Exception:
        return True  # unanalyzable → be conservative

    # ops with no nested subpattern — safe to skip
    _terminal = {
        "LITERAL", "NOT_LITERAL", "IN", "ANY", "AT", "CATEGORY",
        "RANGE", "NEGATE", "GROUPREF", "GROUPREF_EXISTS",
    }

    def walk(items, optional: bool) -> bool:
        for op, av in items:
            name = str(op)
            if name in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
                lo, _hi, sub = av
                if walk(sub, optional or lo == 0):
                    return True
            elif name == "SUBPATTERN":
                group, _af, _df, sub = av
                if group is not None and optional:
                    return True
                if walk(sub, optional):
                    return True
            elif name == "BRANCH":
                _unused, branches = av
                for b in branches:
                    if walk(b, True):  # each branch may lose the vote
                        return True
            elif name in ("ASSERT", "ASSERT_NOT"):
                _direction, sub = av
                if walk(sub, True):  # lookaround captures are murky
                    return True
            elif name == "ATOMIC_GROUP":
                if walk(av, optional):
                    return True
            elif name not in _terminal:
                return True  # unknown composite — be conservative
        return False

    return walk(tree, False)


def _portable(regex: str) -> bool:
    return (
        regex.isascii()
        and not any(tok in regex for tok in _ENGINE_DIVERGENT)
        and not _has_optional_capture(regex)
    )


def choose_extractor(spark, patterns: tuple[Pattern, ...] = PATTERNS) -> str:
    """The engine for THIS registry — the registry alone decides:

    * ``jvm`` (:func:`parse_builtin`) when every regex, repeat groups
      included, is engine-portable (ASCII, explicit classes, no
      divergent constructs, no optional captures) and compiles under
      ``java.util.regex`` — no Python exchange in the plan at all;
    * else ``pandas`` (:func:`parse`) — Python ``re`` semantics, the
      universal fallback and what the pure-Python oracle implements.
    """
    # the repeat-group regex is part of the engine contract too: the
    # jvm path runs it through Java regexp_extract_all, so it needs
    # the same portability screen as the main pattern
    all_rx = [p.regex for p in patterns] + [
        p.repeat_group for p in patterns if p.repeat_group
    ]
    if all(_portable(rx) for rx in all_rx):
        try:
            for rx in all_rx:
                spark._jvm.java.util.regex.Pattern.compile(_java_rx(rx))
            return "jvm"
        except Exception:
            pass
    return "pandas"


def extract_udf_columns(
    text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> tuple[Column, dict[str, Column]]:
    """The pandas-UDF extraction as two projections: the UDF call (to
    be bound to ``_p``) and the ``matched``/``extracted``/``repeats``
    expressions that read ``_p``. Splitting them keeps ONE
    ``ArrowEvalPython`` node in the plan."""
    udf, groups_all = _make_extract_udf(patterns)
    call = udf(F.col(text_col), F.col("pattern_class"), F.col("version"))
    repeats = F.when(
        F.col("_p.repeats_enc").isNotNull(),
        F.transform(
            F.split(F.col("_p.repeats_enc"), _REC_SEP),
            lambda rec: F.split(rec, _FLD_SEP),
        ),
    )
    return call, {
        "matched": F.col("_p.matched"),
        "extracted": F.struct(*[F.col(f"_p.{g}").alias(g) for g in groups_all]),
        "repeats": repeats,
    }


def extract(
    df: DataFrame, text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> DataFrame:
    """Apply the registry with the pandas UDF; adds ``matched``, group
    columns (under ``extracted.*``), and ``repeats``."""
    call, cols = extract_udf_columns(text_col, patterns)
    return df.withColumn("_p", call).withColumns(cols).drop("_p")


def parse(
    df: DataFrame, text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> DataFrame:
    """classify + extract in one call."""
    return extract(classify(df, text_col, patterns), text_col, patterns=patterns)


# ---------------------------------------------------------------------------
# 3. repeating-record expansion (reference §2.8) — posexplode
# ---------------------------------------------------------------------------

def explode_repeats(df: DataFrame, patterns: tuple[Pattern, ...] = PATTERNS) -> DataFrame:
    """Explode repeat-group matches into one row per record.

    The reference decodes N fixed-stride records and name-mangles
    fields as ``"{name} (Record {i})"`` (``payload_decoder.py:188-209``);
    here each record becomes a real row with ``record_idx`` plus
    per-class field names resolved from the registry
    (``repeat_fields``), e.g. ``arg_key/arg_val`` for tool_call and
    ``doc/page`` for citation.
    """
    field_map = {
        (p.pattern_class, p.version): p.repeat_fields for p in patterns if p.repeat_group
    }
    # registry is tiny → express field naming as a literal map lookup.
    # No pre-filter: posexplode already drops null/empty arrays, and a
    # filter on the UDF-derived column would make Catalyst extract the
    # parse UDF TWICE (once for the filter stage, once for the project —
    # measured as 2 ArrowEvalPython nodes, i.e. 2× the parse cost).
    exploded = df.select(
        "conv_id", "turn_idx", "pattern_class", "version",
        F.posexplode("repeats").alias("record_idx", "record"),
    )
    name1 = F.create_map(
        *[x for (c, v), flds in field_map.items() for x in (F.lit(f"{c}:{v}"), F.lit(flds[0]))]
    )
    name2 = F.create_map(
        *[x for (c, v), flds in field_map.items() for x in (F.lit(f"{c}:{v}"), F.lit(flds[1]))]
    )
    key = F.concat_ws(":", "pattern_class", "version")
    return exploded.select(
        "conv_id", "turn_idx", "pattern_class", "version", "record_idx",
        name1[key].alias("field1_name"),
        F.col("record")[0].alias("field1_value"),
        name2[key].alias("field2_name"),
        F.col("record")[1].alias("field2_value"),
    )


# ---------------------------------------------------------------------------
# 4. extract_builtin — the pure-JVM engine (no Python at all)
# ---------------------------------------------------------------------------

def _group_index(regex: str, group: str) -> int:
    """1-based capture-group index of a named group (regexp_extract
    addresses groups by index)."""
    import re

    return re.compile(regex).groupindex[group]


def _java_rx(regex: str) -> str:
    """Python regex → Java regex: named groups → anonymous (Java
    rejects ``(?P<``; its named groups forbid underscores). Registry
    regexes use explicit ASCII classes instead of ``\\w``/``\\d`` —
    hypothesis found both a flag divergence (``CALL µ args={}``: Java
    ASCII vs Python Unicode classes) and, with ``(?U)``, a Unicode
    *version* divergence (``CALL 𝼀 args={}``: U+1DF00 is a word char in
    Python 3.11's Unicode 14 tables but not Java 17's Unicode 13) —
    explicit classes are engine- and version-independent.

    ``(?d)`` (UNIX_LINES) makes ``\n`` the only line terminator, as in
    Python: otherwise Java's ``$`` also matches before a final ``\r``,
    ``\u0085``, ``\u2028`` or ``\u2029``, and its ``.`` refuses them."""
    import re

    return "(?d)" + re.sub(r"\(\?P<\w+>", "(", regex)


def extract_builtin_columns(
    text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> dict[str, Column]:
    """Registry extraction with built-in expressions only — one
    ``regexp_extract`` per (pattern, group), dispatched by the classify
    columns. Same output contract as :func:`extract`; equivalence is
    asserted by ``tests/test_extract_equivalence.py``.

    No Arrow round-trip: the whole plan stays whole-stage codegen'd.
    :func:`choose_extractor` picks it for registries whose regexes are
    engine-portable; any other registry runs the pandas UDF.
    """
    t = F.col(text_col)
    cls, ver = F.col("pattern_class"), F.col("version")
    # per pattern (by registry position): its Java regex, "this row is
    # this pattern", and "… and it matches" — built once, shared by
    # every expression below
    java_rx = [_java_rx(p.regex) for p in patterns]
    is_p = [(cls == p.pattern_class) & (ver == p.version) for p in patterns]
    hit = [is_p[i] & t.rlike(java_rx[i]) for i in range(len(patterns))]

    matched = F.lit(False)
    for i in range(len(patterns)):
        matched = F.when(is_p[i], t.rlike(java_rx[i])).otherwise(matched)

    group_cols = []
    for g in all_groups(patterns):
        expr = F.lit(None).cast("string")
        for i, p in enumerate(patterns):
            if g in p.groups:
                idx = _group_index(p.regex, g)
                expr = F.when(hit[i], F.regexp_extract(t, java_rx[i], idx)).otherwise(expr)
        group_cols.append(expr.alias(g))

    repeats = F.lit(None).cast("array<array<string>>")
    for i, p in enumerate(patterns):
        if not p.repeat_group:
            continue
        n_fields = len(p.repeat_fields)
        parts = [
            F.regexp_extract_all(t, F.lit(_java_rx(p.repeat_group)), k + 1) for k in range(n_fields)
        ]
        zipped = F.zip_with(parts[0], parts[1], lambda a, b: F.array(a, b)) if n_fields == 2 else F.transform(parts[0], lambda a: F.array(a))
        repeats = F.when(hit[i], zipped).otherwise(repeats)

    return {"matched": matched, "extracted": F.struct(*group_cols), "repeats": repeats}


def extract_builtin(
    df: DataFrame, text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> DataFrame:
    """Apply :func:`extract_builtin_columns` (the all-JVM engine)."""
    return df.withColumns(extract_builtin_columns(text_col, patterns))


def parse_builtin(
    df: DataFrame, text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> DataFrame:
    """classify + extract_builtin (the all-JVM pipeline variant)."""
    return extract_builtin(classify(df, text_col, patterns), text_col, patterns)


def parse_auto(
    spark, df: DataFrame, text_col: str = "text", patterns: tuple[Pattern, ...] = PATTERNS
) -> DataFrame:
    """classify + extract on the engine :func:`choose_extractor` picks
    for ``patterns``; both engines give the same output contract."""
    if choose_extractor(spark, patterns) == "jvm":
        return parse_builtin(df, text_col, patterns)
    return parse(df, text_col, patterns)
