"""Checkpoint/resume with per-partition-group lineage manifests.

The reference checkpoints page progress and resumes from the last page
(``src/parallel_pdf_parser.py:145-157, 244-250``: ``parse_checkpoint.
json`` with ``last_page``/``processed_logcodes``). The Spark analog
splits the input into deterministic **partition groups** (hash of
``conv_id`` — all turns of a conversation land in one group, so the
conv-ordered invariants hold within a group), processes each group as
an idempotent unit, and records one lineage manifest per group::

    {group_id, job_id, input_fingerprint, row_count, matched,
     output_commit, status: done, wall_s}

Every group commits to ONE snapshot table (``GROUPS_TABLE``,
partitioned by ``(group, route)``) as a ``replace_partitions`` snapshot
that masks the table's earlier ``group=<g>`` subtree — Iceberg's
dynamic ``overwritePartitions``. On resume, groups with a ``done``
manifest are skipped; a group that crashed after its commit but before
its manifest is simply re-run, and its re-commit replaces the earlier
one, so the rerun cannot double-write. This is exactly-once per group
end-to-end.

At 100 TB the group count is chosen so one group ≈ a few hundred GB —
big enough to amortize job overhead, small enough that a retry is
cheap and the manifest log stays tiny.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SnapshotCatalog
from ..metrics import get_safe, observed
from ..plans.pipeline import build_routed

GROUPS_TABLE = "sink_staging_groups"


class CheckpointedPipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        n_groups: int = 8,
        job_id: str = "default",
        patterns=None,
    ):
        from ..registry import PATTERNS

        self.spark = spark
        self.catalog = catalog
        self.n_groups = n_groups
        self.job_id = job_id
        self.patterns = PATTERNS if patterns is None else patterns
        self.ckpt_dir = os.path.join(catalog.warehouse, "_checkpoints", job_id)
        os.makedirs(self.ckpt_dir, exist_ok=True)

    # ------------------------------------------------------------- manifests
    def _manifest_path(self, group: int) -> str:
        return os.path.join(self.ckpt_dir, f"group_{group:05d}.json")

    def group_manifest(self, group: int) -> dict | None:
        p = self._manifest_path(group)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, group: int, payload: dict) -> None:
        """Write-then-rename so a crash never leaves a half manifest
        that would wrongly mark the group done."""
        p = self._manifest_path(group)
        tmp = f"{p}.tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=2)
        os.replace(tmp, p)

    def done_groups(self) -> set[int]:
        return {
            g for g in range(self.n_groups)
            if (m := self.group_manifest(g)) is not None and m.get("status") == "done"
        }

    # ------------------------------------------------------------------ run
    def group_of(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_group", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_groups)).cast("int")
        )

    def run(
        self,
        transcripts: DataFrame,
        input_fingerprint: str = "",
        fail_after_group: int | None = None,
    ) -> dict:
        """Process all groups not yet marked done. ``fail_after_group``
        simulates a crash (for the resume tests)."""
        grouped = self.group_of(transcripts)
        done = self.done_groups()
        processed, skipped = [], sorted(done)
        for g in range(self.n_groups):
            if g in done:
                continue
            t0 = time.time()
            part = grouped.filter(F.col("_group") == g).drop("_group")
            routed, obs = observed(build_routed(self.spark, part, patterns=self.patterns))
            out = routed.withColumns({"day": F.to_date("ts"), "group": F.lit(g)})
            snap = self.catalog.write_table(
                out.repartition("route"),
                GROUPS_TABLE,
                mode="replace_partitions",
                partition_by=["group", "route"],
                # an empty rerun writes no leaf; the explicit one still
                # masks the group's earlier rows
                replace_leaves=[f"group={g}"],
                lineage={"stage": "checkpointed_fan_out", "group": g, "job": self.job_id},
                row_count=lambda: int(get_safe(obs).get("rows_total") or 0),
            )
            metrics = get_safe(obs)
            self._commit_manifest(
                g,
                {
                    "group_id": g,
                    "job_id": self.job_id,
                    "input_fingerprint": input_fingerprint,
                    "row_count": int(metrics.get("rows_total") or 0),
                    "matched": int(metrics.get("rows_matched") or 0),
                    "unmatched": int(metrics.get("rows_unmatched") or 0),
                    "output_commit": snap.snapshot_id,
                    "status": "done",
                    "wall_s": round(time.time() - t0, 3),
                },
            )
            processed.append(g)
            if fail_after_group is not None and g >= fail_after_group:
                raise RuntimeError(f"simulated crash after group {g}")
        return {"processed": processed, "skipped": skipped}

    def read_output(self) -> DataFrame:
        """Union of all committed groups."""
        return self.catalog.read_table(GROUPS_TABLE)
