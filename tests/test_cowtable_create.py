"""create_table: the input plan runs once (write first, then one
aggregate over the written key column), a rejected input leaves nothing
behind, and create_table / compact_table record their new files' stats
on the driver like every other writer (no list-built Spark job)."""

from __future__ import annotations

import os

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from pdf_parser_spark.sources.cowtable import (compact_table, create_table,
                                               file_key_bounds,
                                               read_manifest, read_table)
from pdf_parser_spark.sources.fsck import fsck_table


def _rows(spark, n=200):
    return spark.range(n).select(F.col("id").alias("k"),
                                 F.concat(F.lit("row "), "id").alias("v"))


def _bad(spark, kind):
    ok = _rows(spark)
    if kind == "null":
        extra = ok.limit(1).select(F.lit(None).cast("long").alias("k"),
                                   F.lit("no key").alias("v"))
    else:
        extra = ok.where(F.col("k") == 7).withColumn("v", F.lit("dup"))
    return ok.unionByName(extra).repartition(4)


def _data_files(table_dir):
    return [os.path.join(r, f) for r, _, fs in os.walk(table_dir)
            for f in fs if f.endswith(".parquet")]


@pytest.mark.parametrize("kind,msg", [
    ("null", "NULL k rows cannot be merge targets"),
    ("dup", "duplicate k values in the initial data — a merge key "
            "identifies one row")])
@pytest.mark.parametrize("dir_exists", [False, True])
def test_create_rejects_bad_keys_and_leaves_nothing(spark, tmp_path, kind,
                                                    msg, dir_exists):
    d = str(tmp_path / "t")
    if dir_exists:
        os.makedirs(d)
    with pytest.raises(ValueError, match=msg):
        create_table(spark, _bad(spark, kind), d, "k")
    # the directory survives only when the caller made it, and then
    # holds neither a manifest nor a data file
    assert os.path.exists(d) == dir_exists
    assert not os.path.exists(os.path.join(d, "manifest.json"))
    assert _data_files(d) == []

    create_table(spark, _rows(spark).repartition(4), d, "k")
    assert read_table(spark, d).count() == 200


def test_create_runs_its_input_once(spark, tmp_path):
    """A Python UDF in the input counts its calls: after create_table of
    a hash-repartitioned input, it ran once per row."""
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    n = 300
    df = (spark.range(n)
          .select(F.udf(bump, "long")("id").alias("k"))
          .withColumn("v", F.col("k") * 2)
          .repartition(4, "k"))
    create_table(spark, df, str(tmp_path / "t"), "k")
    assert acc.value == n


def _parallelize_forbidden(*args, **kwargs):
    raise AssertionError("a list-built DataFrame runs a Python worker task")


def test_create_and_compact_record_stats_on_driver(spark, tmp_path,
                                                   monkeypatch):
    """Neither writer builds a DataFrame from a Python list (the old
    per-commit footer job); the stats they cache equal a fresh footer
    pass over their files."""
    d = str(tmp_path / "t")
    df = _rows(spark, 400).repartitionByRange(4, "k")
    monkeypatch.setattr(SparkContext, "parallelize", _parallelize_forbidden)
    create_table(spark, df, d, "k", stats_cols=["v"], bloom_cols=["v"])
    out = compact_table(spark, d, target_mb=1)
    monkeypatch.undo()

    m = read_manifest(d)
    for v in ("1", str(out["version"])):
        files = m["snapshots"][v]["files"]
        assert files and set(files) <= set(m["stats"])
        assert set(files) <= set(m["colstats"]["v"])
        assert set(files) <= set(m["bloomstats"]["v"])
        key = lambda b: b["file"]  # noqa: E731
        assert (sorted(file_key_bounds(spark, d, files, "k", manifest=m),
                       key=key)
                == sorted(file_key_bounds(spark, d, files, "k"), key=key))
    assert out["out_files"] == len(m["snapshots"][str(out["version"])]
                                   ["files"])
    assert read_table(spark, d).count() == 400


def test_create_empty_input(spark, tmp_path):
    """A zero-row input commits v1 with no files (zero-row files are
    dropped at registration); it reads as an empty table of the
    recorded schema and passes fsck."""
    d = str(tmp_path / "t")
    empty = _rows(spark).limit(0)
    m = create_table(spark, empty, d, "k")
    assert m["snapshots"]["1"]["files"] == []
    assert _data_files(d) == []
    got = read_table(spark, d)
    assert got.count() == 0
    assert got.schema == empty.schema
    assert fsck_table(spark, d)["ok"]
