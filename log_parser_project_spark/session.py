"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, the pipeline job, and the benchmark
harness so that every run gets identical, deliberately-chosen configs:

* AQE on (runtime partition coalescing + skew-join splitting) — the
  scale-path answer to hot ``conv_id`` skew (SURVEY.md §4).
* ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a
  real cluster this would be ~2-3× total executor cores (AQE coalesces
  down, it never splits a too-small number except for skew).
* Arrow enabled for the vectorized pandas-UDF parse stage, with a
  bounded batch size so a 100 MB text partition never materializes as
  one giant Arrow batch.
* Session timezone pinned to UTC so timestamps compare exactly against
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_PARALLELISM = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _package_zip() -> str:
    """Zip this package so executors can import it — the programmatic
    equivalent of ``spark-submit --py-files dist/engine.zip``.

    The zip is named by a hash of the zipped paths and contents, so
    every version of the source gets its own file: a process or
    checkout zipping different source can never replace the zip a
    running session registered with ``addPyFile``. An existing zip of
    the same version is reused as is."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = sorted(
        (os.path.join(pkg_name, os.path.relpath(os.path.join(root, fn), pkg_dir)),
         os.path.join(root, fn))
        for root, _dirs, files in os.walk(pkg_dir)
        if "__pycache__" not in root
        for fn in files
        if fn.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel, full in sources:
        digest.update(rel.encode() + b"\0")
        with open(full, "rb") as f:
            digest.update(f.read() + b"\0")
    out = os.path.join(tempfile.gettempdir(), f"{pkg_name}-{digest.hexdigest()[:16]}.zip")
    if os.path.exists(out):
        return out
    # build in a unique temp file, then atomically rename into place, so
    # a concurrent session zipping the same version never hands its
    # executors a truncated zip
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, full in sources:
                zf.write(full, rel)
        os.replace(tmp, out)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    return out


def get_spark(
    app_name: str = "log_parser_project_spark",
    parallelism: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``parallelism`` sets both ``local[N]`` and the shuffle-partition
    count, so the two-parallelism scaling benchmark scales partitions
    with cores (BASELINE.md in-sandbox evidence protocol).
    """
    n = parallelism or DEFAULT_PARALLELISM
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # -- shuffle & adaptivity ------------------------------------
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.default.parallelism", str(max(n, 8)))
        # InferFiltersFromGenerate would re-insert a size(col)>0 filter
        # under every posexplode; when the exploded array is pandas-UDF-
        # derived (the repeats column), the filter forces a SECOND
        # ArrowEvalPython extraction — 2× the whole parse cost for a
        # micro-optimization that only skips empty-array Generate calls
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # -- arrow / pandas UDF hot path -----------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # -- scan sizing: keep partitions ~128MB so a 100TB table
        #    yields ~800k tasks, not 8 giant ones --------------------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # -- deterministic oracle comparison -------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- int64 timestamps in parquet: the deprecated INT96 default
        #    writes NO footer min/max statistics, which disables both
        #    the catalog's manifest-level file skipping on ts columns
        #    and parquet row-group pruning ---------------------------
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # -- quieter local runs --------------------------------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to executor python workers (--py-files analog);
    # without this, the pandas-UDF closure can't unpickle on workers
    # whose PYTHONPATH doesn't include the repo (found by /verify).
    spark.sparkContext.addPyFile(_package_zip())
    return spark
