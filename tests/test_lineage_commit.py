"""The per-group commit of ``sources.lineage.run_extraction``: the
metrics, lineage and manifest it writes, the states it refuses, and the
number of Spark jobs one commit runs."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import functions as F

import pdf_parser_spark.sources.lineage as lineage
from pdf_parser_spark.config import CLEANING_CONFIG, DEFAULT_CONFIG
from pdf_parser_spark.operators.merge import extract_chunks
from pdf_parser_spark.pipeline import full_metrics
from pdf_parser_spark.sources.lineage import (read_extracted, read_lineage,
                                              run_extraction,
                                              staged_run_incomplete)
from pdf_parser_spark.sources.synth import generate_transcripts
from tests.conftest import TRANSCRIPT_SCHEMA

CONFIGS = {"default": DEFAULT_CONFIG, "cleaning": CLEANING_CONFIG}
# a conversation whose turns yield no chunk: its metrics row carries
# NULL chunk stats and it adds nothing to its bucket's lineage counts
ZERO_CHUNK_CONV = "conv_zero_chunks"


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rows = generate_transcripts(16, seed=13, max_turns=12)
    rows += [{"conv_id": ZERO_CHUNK_CONV, "turn_idx": i, "role": "user",
              "text": text, "tool": None, "ts": None}
             for i, text in enumerate([None, ""])]
    path = str(tmp_path_factory.mktemp("commit") / "t.parquet")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(path)
    return path


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("cfg_name", sorted(CONFIGS))
def test_commit_metrics_and_lineage_match_the_chunks(spark, corpus,
                                                     tmp_path, monkeypatch,
                                                     cfg_name):
    cfg = CONFIGS[cfg_name]
    stamp = datetime(2026, 3, 4, 5, 6, 7, 891011, tzinfo=timezone.utc)

    class _Clock(datetime):
        @classmethod
        def now(cls, tz=None):
            return stamp.astimezone(tz)

    monkeypatch.setattr(lineage, "datetime", _Clock)
    out = str(tmp_path / "out")
    run_extraction(spark, corpus, out, cfg, n_buckets=4, buckets_per_job=2)

    # metrics == full_metrics computed independently from extract_chunks
    src = spark.read.parquet(corpus)
    want = full_metrics(src, extract_chunks(src, cfg), cfg)
    got = spark.read.parquet(f"{out}/metrics").select(*want.columns)
    assert _sorted_rows(got) == _sorted_rows(want)
    zero = got.where(F.col("conv_id") == ZERO_CHUNK_CONV).collect()
    assert len(zero) == 1 and zero[0].total_chunks is None
    assert zero[0].n_turns == 2

    # lineage counts == aggregates over the committed chunks
    agg = {r.bucket_id: (r.n_convs, r.n_chunks, r.n_chars) for r in
           read_extracted(spark, out).groupBy("bucket_id").agg(
               F.countDistinct("conv_id").alias("n_convs"),
               F.count("*").alias("n_chunks"),
               F.sum("char_count").alias("n_chars")).collect()}
    rows = read_lineage(spark, out).collect()
    assert sorted(r.bucket_id for r in rows) == [0, 1, 2, 3]
    for r in rows:
        assert r.status == "done"
        assert (r.n_convs, r.n_chunks, r.n_chars) == agg.get(r.bucket_id,
                                                             (0, 0, 0))

    # finished_ts stores the commit's UTC clock reading, to the microsecond
    stored = {r.ts for r in read_lineage(spark, out).select(
        F.date_format("finished_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("ts")).collect()}
    assert stored == {"2026-03-04 05:06:07.891011"}


def _parallelize_forbidden(*args, **kwargs):
    raise AssertionError("a list-built DataFrame runs a Python worker task")


@pytest.mark.parametrize("cfg_name,first_jobs,resume_jobs",
                         [("default", 12, 14), ("cleaning", 16, 18)])
def test_commit_spark_job_count(spark, corpus, tmp_path, monkeypatch,
                                cfg_name, first_jobs, resume_jobs):
    """One one-bucket commit, first on a fresh dir (which writes the
    manifest) and then as a resume (which reads manifest and lineage).
    A read-back of a table just written, or a schema-inference read,
    adds a job; a frame built from a Python list goes through
    ``sc.parallelize``."""
    monkeypatch.setattr(SparkContext, "parallelize", _parallelize_forbidden)
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    counts = []
    for call in ("first", "resume"):
        group = f"commit-{cfg_name}-{call}"
        sc.setJobGroup(group, group)
        try:
            run_extraction(spark, corpus, out, CONFIGS[cfg_name],
                           n_buckets=4, buckets_per_job=1, max_jobs=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [first_jobs, resume_jobs]


def test_manifest_written_once_and_universe_checked(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    run_extraction(spark, corpus, out, DEFAULT_CONFIG, n_buckets=4,
                   buckets_per_job=1, max_jobs=1)
    manifest_dir = f"{out}/manifest"
    before = {f: os.stat(f"{manifest_dir}/{f}").st_mtime_ns
              for f in os.listdir(manifest_dir)}

    # a resume leaves the manifest alone: no window in which it is gone
    run_extraction(spark, corpus, out, DEFAULT_CONFIG, n_buckets=4,
                   buckets_per_job=1, max_jobs=1)
    assert {f: os.stat(f"{manifest_dir}/{f}").st_mtime_ns
            for f in os.listdir(manifest_dir)} == before
    assert staged_run_incomplete(spark, out) == (2, 4)

    # a different bucket universe is refused, and nothing is written
    with pytest.raises(ValueError, match="n_buckets=4"):
        run_extraction(spark, corpus, out, DEFAULT_CONFIG, n_buckets=8,
                       buckets_per_job=1)
    assert read_lineage(spark, out).count() == 2
    assert staged_run_incomplete(spark, out) == (2, 4)


def test_manifest_write_killed_before_commit(spark, corpus, tmp_path):
    """A first manifest write killed before its job commit leaves only
    Spark's _temporary dir: the next call writes the manifest and runs."""
    out = str(tmp_path / "out")
    os.makedirs(f"{out}/manifest/_temporary/0")
    run_extraction(spark, corpus, out, DEFAULT_CONFIG, n_buckets=4,
                   buckets_per_job=1, max_jobs=1)
    assert staged_run_incomplete(spark, out) == (1, 4)


def _garbage(path: str) -> None:
    with open(f"{path}/part-0.parquet", "wb") as fh:
        fh.write(b"this is not a parquet file" * 8)


def test_corrupt_lineage_or_manifest_raises(spark, corpus, tmp_path):
    """Only a missing table means "nothing done yet": a corrupt lineage
    file must not make a resume silently reprocess every bucket, and a
    corrupt manifest must not read as "foreign table, nothing to check"."""
    out = str(tmp_path / "out")
    run_extraction(spark, corpus, out, DEFAULT_CONFIG, n_buckets=4,
                   buckets_per_job=1, max_jobs=1)
    _garbage(f"{out}/lineage")
    with pytest.raises(Py4JJavaError, match="part-0.parquet"):
        run_extraction(spark, corpus, out, DEFAULT_CONFIG, n_buckets=4,
                       buckets_per_job=1)
    with pytest.raises(Py4JJavaError, match="part-0.parquet"):
        staged_run_incomplete(spark, out)

    out2 = str(tmp_path / "out2")
    run_extraction(spark, corpus, out2, DEFAULT_CONFIG, n_buckets=4,
                   buckets_per_job=1, max_jobs=1)
    _garbage(f"{out2}/manifest")
    with pytest.raises(Py4JJavaError, match="part-0.parquet"):
        staged_run_incomplete(spark, out2)
