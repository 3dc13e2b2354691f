"""Tuned SparkSession builder.

Configs chosen for the 100 TB design point (and scaled-down local testing):
- AQE on (coalesce shuffle partitions, skew-join splitting) — the north rule
  calls for AQE-tuned shuffles; skewed zipf conversation lengths are the
  norm in transcript corpora.
- Arrow on with a bounded batch size: every custom computation in this
  engine is a pandas/Arrow UDF (no per-row Python), so Arrow batch size is
  the analog of the reference's embedding batch size
  (reference embedding_service.py:40).
- shuffle partitions default to cores locally; on a real cluster this is
  set to ~2-3x total cores (or left to AQE coalescing from a high initial).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _default_heap() -> str:
    """Quarter of physical RAM, clamped to [4g, 24g]."""
    try:
        total_gb = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
                    // (1 << 30))
    except (ValueError, OSError, AttributeError):
        return "4g"  # unknown platform: the conservative floor
    return f"{min(24, max(4, total_gb // 4))}g"


def build_session(app_name: str = "pdf_parser_spark",
                  cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode puts all executor threads in the driver JVM: size the
        # heap for cores x (execution + unroll) — a flat 8g OOMed 32
        # concurrent tasks under persist pressure at 6.5M chunks. Default
        # = a quarter of physical RAM clamped to [4g, 24g] so small
        # machines keep a survivable heap (the JVM must not outgrow the
        # box). A real cluster sizes executors via spark-submit instead.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_heap()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType) -> DataFrame:
    """A DataFrame over a few driver-side rows, built on the Arrow path
    (``spark.sql.execution.arrow.pyspark.enabled``, which
    :func:`build_session` turns on): the rows reach the JVM as one Arrow
    batch and plan as a ``LocalTableScan``. ``createDataFrame(list)``
    instead goes through ``sc.parallelize`` and re-serializes the rows in
    a Python worker task, which costs about 1 s per write even for one
    row (4-vCPU host). Naive timestamps are read in the session time
    zone."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=schema.fieldNames()), schema)
