"""Enrich stage: dimension lookups + derived columns, as expressions.

The reference's lookups are all hash-equi probes into small in-memory
dimensions (logcode metadata ``J1``, version map ``J2``, enum map
``J10`` — SURVEY.md §2.3), served from an in-process metadata cache
(``icd_parser/cache.py``). The role/tool dims and the enum maps are
registry data, known on the driver at plan time, so each lookup here
is a **literal map** (``create_map(...)[key]``): Catalyst folds the
map into the generated code and the probe is a hash lookup per row —
no join, no exchange, and no job to build a dim DataFrame before the
plan even starts. A missing or null key gives null, exactly the
left-join result (the dim keys are unique) and the dict ``.get`` of
``oracle.py``. Data-sized dimensions (the TPC-H-style queries) stay
broadcast hash joins.

The ``*_columns`` builders return ``{name: Column}`` expressions, which
``plans.pipeline.build_routed`` compiles once per registry and applies
as one projection; :func:`enrich` and :func:`apply_enums` apply them to
a DataFrame directly.

Derived metrics mirror the reference's field post-processor
(``decoder/field_post_processor.py:19-148`` — the BLER percentage):
plain ``when/otherwise`` column arithmetic, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..registry import DIM_ROLES, DIM_TOOLS, PATTERNS, Pattern


def _lookup(key: str, pairs) -> Column:
    """``{k: v for k, v in pairs}[key]`` as a literal map lookup."""
    return F.create_map(*[F.lit(x) for kv in pairs for x in kv])[F.col(key)]


def enrich_columns() -> dict[str, Column]:
    """The role/tool dimension attributes as literal map lookups."""
    return {
        "role_class": _lookup("role", [(r, c) for r, c, _w in DIM_ROLES]),
        "weight": _lookup("role", [(r, w) for r, _c, w in DIM_ROLES]),
        "tool_family": _lookup("tool", [(t, f) for t, f, _r in DIM_TOOLS]),
        "risk_level": _lookup("tool", [(t, r) for t, _f, r in DIM_TOOLS]),
    }


def enrich(df: DataFrame) -> DataFrame:
    """Add ``role_class``/``weight`` (by ``role``) and
    ``tool_family``/``risk_level`` (by ``tool``)."""
    return df.withColumns(enrich_columns())


def enum_columns(patterns: tuple[Pattern, ...] = PATTERNS) -> dict[str, Column]:
    """The ``<field>_friendly`` expressions mapping raw enum values to
    friendly labels (J10).

    The registry's enum maps are tiny and known at plan time, so they
    become literal ``map`` expressions rather than joins — Catalyst
    constant-folds them into codegen. Unknown raw values get
    ``UNKNOWN(v)``, matching the reference's default
    (``utils/enum_mapper.py:8-24``).
    """
    # group by enum_field: two patterns (e.g. two versions of a class)
    # may declare the same field with DIFFERENT maps — one output column
    # per field, with the map selected per (pattern_class, version)
    # row-wise (last-writer-wins withColumn would both duplicate the
    # column and mis-map the earlier versions)
    by_field: dict[str, list] = {}
    for p in patterns:
        if p.enum_map and p.enum_field:
            by_field.setdefault(p.enum_field, []).append(p)
    out = {}
    for fld, pats in by_field.items():
        raw = F.col(f"extracted.{fld}")
        expr = F.lit(None).cast("string")
        for p in pats:
            m = F.create_map(*[F.lit(x) for kv in p.enum_map.items() for x in kv])
            mapped = F.coalesce(m[raw], F.concat(F.lit("UNKNOWN("), raw, F.lit(")")))
            expr = F.when(
                (F.col("pattern_class") == p.pattern_class)
                & (F.col("version") == p.version),
                mapped,
            ).otherwise(expr)
        out[f"{fld}_friendly"] = F.when(raw.isNull(), None).otherwise(expr)
    return out


def apply_enums(df: DataFrame, patterns: tuple[Pattern, ...] = PATTERNS) -> DataFrame:
    """Add the :func:`enum_columns` of ``patterns``."""
    return df.withColumns(enum_columns(patterns))


def derive_columns() -> dict[str, Column]:
    """Post-processing derived columns (the BLER analog, A9).

    ``tokens_per_sec = tokens / (latency_ms/1000)``, guarded like the
    reference guards divide-by-zero (``field_post_processor.py:58-66``).
    """
    lat = F.col("extracted.latency_ms").cast("double")
    tok = F.col("extracted.tokens").cast("long")
    return {
        "tokens_per_sec": F.when(
            (F.col("pattern_class") == "metric") & lat.isNotNull() & (lat > 0),
            F.round(tok / (lat / 1000.0), 2),
        ).otherwise(F.lit(None).cast("double")),
    }
