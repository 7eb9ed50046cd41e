"""SparkSession factory with the engine's scale-tuned defaults."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def find_iceberg_jar() -> str | None:
    """Locate an Iceberg Spark runtime jar if one is installed:
    ``SPARK_GRAFT_ICEBERG_JAR`` (explicit), then ``$SPARK_HOME/jars``,
    then pyspark's bundled jars dir.  Returns None when the
    environment has no Iceberg support (the sandbox case) — callers
    fall back to the parquet-directory table layout.
    """
    env = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if env:
        return env if Path(env).exists() else None
    roots = []
    if os.environ.get("SPARK_HOME"):
        roots.append(Path(os.environ["SPARK_HOME"]) / "jars")
    import pyspark

    roots.append(Path(pyspark.__file__).parent / "jars")
    for r in roots:
        if r.is_dir():
            hits = sorted(r.glob("iceberg-spark-runtime*.jar"))
            if hits:
                return str(hits[0])
    return None


def get_spark(app: str = "html_qt_spark", *, cpus: int | None = None,
              shuffle_partitions: int | None = None,
              iceberg_warehouse: str | None = None) -> SparkSession:
    """Local-mode session sized per driver env; on a real cluster these
    settings come from spark-submit and this builder is a no-op getOrCreate.

    - AQE on: post-shuffle coalescing + skew-join splitting for free.
    - Arrow batch capped (north_rule skew note, SURVEY.md §4.1): one Arrow
      batch of documents must fit in a Python worker.  8192 rows measured
      +21% docs/sec over 2048 and +5% over 4096 after the r3 kernel
      speedups (faster kernel -> roundtrip overhead dominates sooner).
      Worst-case batch memory = maxRecordsPerBatch x the largest span a
      pipeline admits: with extract's max_span_bytes quarantine and
      chunk_split_exploded in front, spans are bounded and 8192 is safe;
      for corpora with unbounded raw docs and no oversize guard, drop to
      2048 (env SPARK_GRAFT_ARROW_BATCH).
    - shuffle.partitions sized to cores (not the 200 default) so the
      window/groupBy stages don't fragment at small scale; at cluster
      scale this is set to 2-3x total cores by the submitter.
    - driver memory from env SPARK_GRAFT_DRIVER_MEM, else the smaller of
      48 GB and half of physical memory: a local JVM sized past the
      host's RAM is OOM-killed instead of collecting garbage.
    - local masters only: Python workers start through
      ``plans/pydaemon.py``, which imports pyspark from the unpacked
      ``$SPARK_HOME/python`` instead of ``pyspark.zip``.  Each task's
      ``importlib.invalidate_caches()`` makes every zipimporter re-read
      its archive, 0.1-0.3 s per task.  Under spark-submit the package
      may reach workers only through ``--py-files``, which is on the
      path only after the daemon starts, so Spark's daemon stays.  A
      local worker must import ``html_qt_spark`` (run from the repo root
      or put it on ``PYTHONPATH``), or every Python task fails.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    builder = SparkSession.builder
    # under spark-submit the master (cluster URL) comes from the submitter;
    # only force local[N] when launched as a bare python process
    if not os.environ.get("SPARK_ENV_LOADED"):
        builder = (builder.master(f"local[{cpus}]")
                   .config("spark.python.daemon.module",
                           "html_qt_spark.plans.pydaemon"))
    builder = (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "8192"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or f"{min(48 << 10, phys_mb // 2)}m")
    )
    if iceberg_warehouse:
        # real Iceberg catalog when the runtime jar exists (detected at
        # session build, VERDICT r4 #9); otherwise the caller keeps the
        # parquet-directory layout — plans.pipeline routes on the
        # "iceberg:" sink scheme, so no other code changes per mode
        jar = find_iceberg_jar()
        if jar is not None:
            builder = (
                builder
                .config("spark.jars", jar)
                .config(
                    "spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions"
                    ".IcebergSparkSessionExtensions")
                .config("spark.sql.catalog.graft",
                        "org.apache.iceberg.spark.SparkCatalog")
                .config("spark.sql.catalog.graft.type", "hadoop")
                .config("spark.sql.catalog.graft.warehouse",
                        iceberg_warehouse)
            )
    return builder.getOrCreate()
