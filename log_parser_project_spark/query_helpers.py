"""CLI-parity query helpers over the registry dims and sinks.

The reference ships ``list / versions / query / search / revisions``
commands over its SQLite store (``src/app.py:282-381``,
``src/query_engine.py``). These helpers are the DataFrame equivalents
over ``dim_patterns`` and the routed sinks — thin by design (the
engine's real query surface is the DataFrame API itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import SnapshotCatalog
from .plans.pipeline import STAGING_TABLE
from .registry import dim_patterns_df


def list_patterns(spark: SparkSession) -> DataFrame:
    """``app.py list`` analog: every pattern class with version count
    and routes (reference query_engine.py:217-226 ordering)."""
    return (
        dim_patterns_df(spark)
        .groupBy("pattern_class", "route")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.array_sort(F.collect_list("version")).alias("versions"),
        )
        .orderBy("pattern_class")
    )


def versions_of(spark: SparkSession, pattern_class: str) -> DataFrame:
    """``app.py versions 0x…`` analog (version map lookup, J2)."""
    return (
        dim_patterns_df(spark)
        .filter(F.lower("pattern_class") == pattern_class.strip().lower())
        .select("pattern_class", "version", "regex", "groups", "repeat_group")
        .orderBy("version")
    )


def describe_pattern(spark: SparkSession, pattern_class: str, version: int = 1) -> DataFrame:
    """``app.py query <logcode> <version>`` analog: the field layout
    (named groups) of one pattern version — the registry row plus one
    output row per capture group, like the reference's Name/Type table."""
    p = (
        dim_patterns_df(spark)
        .filter(
            (F.lower("pattern_class") == pattern_class.strip().lower())
            & (F.col("version") == version)
        )
    )
    return p.select(
        "pattern_class", "version", "route",
        F.posexplode("groups").alias("field_idx", "field_name"),
    )


def search_patterns(spark: SparkSession, term: str) -> DataFrame:
    """``app.py search`` analog: LIKE over class names, routes, and
    group names (reference query_engine.py:228-246)."""
    t = term.strip().lower()
    d = dim_patterns_df(spark)
    return d.filter(
        F.lower("pattern_class").contains(t)
        | F.lower("route").contains(t)
        | F.exists("groups", lambda g: F.lower(g).contains(t))
    ).select("pattern_class", "version", "route", "groups")


def sink_summary(catalog: SnapshotCatalog) -> DataFrame:
    """Per-sink row/conversation summary over the routed staging table
    (the 'what landed where' operational query)."""
    staging = catalog.read_table(STAGING_TABLE)
    return (
        staging.groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("route")
    )
