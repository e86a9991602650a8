"""Route stage: tag every row with its destination sink.

The reference writes one SQLite DB per run (``src/datastore.py``) and
warns-and-continues on decode failures (``payload_decoder.py:111-113``).
Here routing is a first-class column: matched rows go to their
pattern class's sink, unmatched/unparseable rows go to the quarantine
sink ``sink_unmatched`` (the error channel / corrupt-row quarantine of
SURVEY.md R3-P8).

Fan-out is not a separate job per sink: ``plans.pipeline.run_pipeline``
writes the routed fact ONCE, partitioned by ``(route, day)``, so each
logical sink is a partition subtree that ``read_sink`` prunes to — one
pass over the text instead of one filtered write per sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..registry import PATTERNS, Pattern


def route_column(patterns: tuple[Pattern, ...] = PATTERNS) -> Column:
    """The ``route`` expression from the registry's class→sink map."""
    class_to_route = {p.pattern_class: p.route for p in patterns}
    m = F.create_map(*[F.lit(x) for kv in class_to_route.items() for x in kv])
    return F.when(
        F.col("pattern_class").isNull() | ~F.col("matched"), F.lit("sink_unmatched")
    ).otherwise(m[F.col("pattern_class")])


def route(df: DataFrame, patterns: tuple[Pattern, ...] = PATTERNS) -> DataFrame:
    """Add the ``route`` column from the registry's class→sink map."""
    return df.withColumn("route", route_column(patterns))
