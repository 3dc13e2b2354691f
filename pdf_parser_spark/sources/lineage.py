"""Checkpointed, resumable extraction runs with per-partition lineage.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". The reference's closest analogs are its per-file loop writing one
JSON per document (reference process_gea_pdfs.py:95-166) and the
"optimized" agent's incremental ``max_files`` loading
(reference gea_qa_agent_optimized.py:76-163); here that becomes:

- work is partitioned by ``bucket_id = pmod(xxhash64(conv_id), n_buckets)``
  — the conv_id-hash partitioning the north rule names. On Iceberg this is
  the table's ``bucket(N, conv_id)`` partition spec and the filter below
  becomes partition pruning in the scan.
- buckets are processed in groups (one Spark job per group). Each job
  writes the ``extracted`` parquet partition(s) with DYNAMIC partition
  overwrite — so a job that died between data-write and lineage-commit is
  simply re-run idempotently (on Iceberg: an atomic replace-partition
  commit).
- after the data lands, one lineage row per bucket (status, conv/chunk/char
  counts, wall seconds) is appended to the ``lineage`` table, plus
  per-conversation rows to the ``metrics`` table (mirroring the reference's
  chunk_statistics, pdf_parser.py:338-345). Both are computed from the
  job's persisted fused map output, whose non-sentinel rows are exactly
  the chunk rows just written — the ``extracted`` partitions are never
  read back.
- the ``manifest`` (the bucket universe, ``n_buckets``) is written once,
  by the first call on an output dir; a later call with a different
  ``n_buckets`` raises instead of mixing two universes in one lineage
  table.
- resume = read ``lineage``, skip done buckets. The scan filter
  ``NOT bucket IN (done)`` is the anti-join of SURVEY.md §2 S7, expressed
  as partition pruning.

Scale: the driver holds only the bucket id list (n_buckets ints) and one
aggregate row per bucket in the current group — never data rows. At
10^12 turns with n_buckets=4096, each job handles ~buckets_per_job/4096 of
the corpus; checkpoint granularity, restart cost, and output file sizes are
all tuned by the same two knobs.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampType)

from pdf_parser_spark.config import ExtractionConfig
from pdf_parser_spark.operators.merge import chunks_from_local, tokenized_local
from pdf_parser_spark.pipeline import full_metrics
from pdf_parser_spark.session import local_frame

LINEAGE_SCHEMA = StructType([
    StructField("bucket_id", IntegerType()),
    StructField("status", StringType()),
    StructField("n_convs", LongType()),
    StructField("n_chunks", LongType()),
    StructField("n_chars", LongType()),
    # per-bucket cost: the measured job-group wall attributed to each
    # bucket by its share of extracted characters (the map stage's cost
    # driver) — distinguishable per-bucket figures for skew forensics at
    # 4096 buckets without paying one timed job per bucket. The raw
    # group measurement is kept alongside.
    StructField("wall_sec", DoubleType()),
    StructField("group_wall_sec", DoubleType()),
    StructField("finished_ts", TimestampType()),
])

MANIFEST_SCHEMA = StructType([StructField("n_buckets", IntegerType())])


def bucket_expr(n_buckets: int, col: str = "conv_id"):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


@dataclass
class RunResult:
    processed_buckets: list[int]
    skipped_buckets: list[int]


def _read_committed(spark: SparkSession, path: str,
                    schema: StructType) -> DataFrame | None:
    """The committed rows of the table at ``path``; None when the path
    does not exist. Any other read error (a corrupt file, say) raises.
    The schema is given, so no schema-inference job runs, and a dir
    holding only the ``_temporary`` of a first write killed before its
    job commit reads as empty."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _done_buckets(spark: SparkSession, lineage_path: str) -> set[int]:
    lineage = _read_committed(spark, lineage_path, LINEAGE_SCHEMA)
    if lineage is None:  # first run: no lineage table yet
        return set()
    rows = (lineage.where(F.col("status") == "done")
            .select("bucket_id").distinct().collect())
    return {r.bucket_id for r in rows}


def _manifest_buckets(spark: SparkSession, output_dir: str) -> int | None:
    manifest = _read_committed(spark, f"{output_dir}/manifest",
                               MANIFEST_SCHEMA)
    rows = [] if manifest is None else manifest.collect()
    return rows[0].n_buckets if rows else None


def write_manifest(spark: SparkSession, output_dir: str,
                   n_buckets: int) -> None:
    """One-row (n_buckets) parquet at ``<dir>/manifest`` — engine-written
    (no driver-local open()), so it works on any Hadoop-visible FS.
    Overwrite clears what a first write killed before its commit left."""
    (local_frame(spark, [(int(n_buckets),)], MANIFEST_SCHEMA)
     .coalesce(1).write.mode("overwrite").parquet(f"{output_dir}/manifest"))


def staged_run_incomplete(spark: SparkSession,
                          output_dir: str) -> tuple[int, int] | None:
    """(done, expected) bucket counts when the staged extraction at
    ``output_dir`` is verifiably incomplete; None when complete or when
    no manifest exists (a foreign chunk table — nothing to check)."""
    expected = _manifest_buckets(spark, output_dir)
    if expected is None:  # not a run_extraction output
        return None
    done = len(_done_buckets(spark, f"{output_dir}/lineage"))
    return None if done >= expected else (done, expected)


def run_extraction(spark: SparkSession, input_path: str, output_dir: str,
                   cfg: ExtractionConfig = ExtractionConfig(),
                   n_buckets: int = 16, buckets_per_job: int = 8,
                   resume: bool = True, max_jobs: int | None = None,
                   ) -> RunResult:
    """Run (or resume) the extraction pipeline over all conv_id buckets.

    ``max_jobs`` exists for tests: stop after that many job groups to
    simulate a mid-run failure; a subsequent resume=True call finishes the
    remainder without reprocessing done buckets.
    """
    extracted_path = f"{output_dir}/extracted"
    metrics_path = f"{output_dir}/metrics"
    lineage_path = f"{output_dir}/lineage"

    # run manifest: records the bucket universe so downstream consumers
    # (jobs/training_pipeline.py --input-kind extracted) can tell a
    # completed table from one whose run was killed mid-way — lineage
    # rows alone can't, because only DONE buckets ever get a row.
    # Written only when absent: an overwrite deletes the old manifest
    # before writing the new one, and a resume killed in between would
    # leave a half-built table that reads as complete.
    recorded = _manifest_buckets(spark, output_dir)
    if recorded is None:
        write_manifest(spark, output_dir, n_buckets)
    elif recorded != n_buckets:
        raise ValueError(
            f"{output_dir} was started with n_buckets={recorded}; "
            f"continuing it with n_buckets={n_buckets} would mix two "
            "bucket universes in one lineage table")

    transcripts = spark.read.parquet(input_path)

    done = _done_buckets(spark, lineage_path) if resume else set()
    todo = [b for b in range(n_buckets) if b not in done]
    groups = [todo[i:i + buckets_per_job]
              for i in range(0, len(todo), buckets_per_job)]
    if max_jobs is not None:
        groups = groups[:max_jobs]

    processed: list[int] = []
    for group in groups:
        t0 = time.monotonic()
        src = transcripts.where(bucket_expr(n_buckets).isin(group))
        # one tokenize pass per job: the fused map output feeds the
        # extracted table, the cleaning metrics and the lineage counts
        # (persisted chunk-level rows — bounded by the bucket group, far
        # smaller than raw text re-tokenization)
        local = tokenized_local(src, cfg).persist()
        chunks = chunks_from_local(local).withColumn(
            "bucket_id", bucket_expr(n_buckets))

        # idempotent data commit: replace exactly the partitions we produce
        (chunks.write.partitionBy("bucket_id")
               .option("partitionOverwriteMode", "dynamic")
               .mode("overwrite").parquet(extracted_path))

        # the non-sentinel map rows are the chunk rows just written, and
        # carry every column the chunk stats read (conv_id, chunk_type,
        # char_count) — no read-back of the extracted partitions
        chunk_rows = local.where(F.col("chunk_type").isNotNull())
        (full_metrics(src, chunk_rows, cfg, local=local)
            .withColumn("bucket_id", bucket_expr(n_buckets))
            .write.partitionBy("bucket_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(metrics_path))

        # one aggregate row per bucket — bounded by buckets_per_job
        agg = {r["bucket_id"]: r for r in
               chunk_rows.groupBy(bucket_expr(n_buckets).alias("bucket_id"))
               .agg(F.countDistinct("conv_id").alias("n_convs"),
                    F.count("*").alias("n_chunks"),
                    F.sum("char_count").alias("n_chars")).collect()}
        # blocking: leave no cache eviction running under the next job
        local.unpersist(blocking=True)
        wall = time.monotonic() - t0
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        group_chars = sum(int(r["n_chars"]) for r in agg.values())
        lineage_rows = []
        for b in group:
            r = agg.get(b)
            chars = int(r["n_chars"]) if r else 0
            # char-weighted share of the group wall; an empty bucket in a
            # non-empty group did (to first order) no work -> share 0;
            # only an ALL-empty group falls back to an equal split
            share = (chars / group_chars if group_chars
                     else 1.0 / len(group))
            lineage_rows.append((b, "done",
                                 r["n_convs"] if r else 0,
                                 r["n_chunks"] if r else 0,
                                 chars,
                                 wall * share, wall, now))
        (local_frame(spark, lineage_rows, LINEAGE_SCHEMA)
              .coalesce(1).write.mode("append").parquet(lineage_path))
        processed.extend(group)

    return RunResult(processed_buckets=processed,
                     skipped_buckets=sorted(done))


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/extracted")


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    # mergeSchema: lineage dirs are append-only across engine versions
    # (round 3 added group_wall_sec and redefined wall_sec as the
    # per-bucket char-weighted share; pre-round-3 rows surface
    # group_wall_sec = NULL and their wall_sec is the whole group's wall
    # — distinguish generations by that NULL before aggregating costs)
    return (spark.read.option("mergeSchema", "true")
            .parquet(f"{output_dir}/lineage"))
