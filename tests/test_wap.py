"""Write-audit-publish refresh: staged merges audit on a branch and
publish to main only on green; a red audit leaves main bit-identical and
re-opens the batch ledger for a retry. Reference analog: the reference
validates extraction output before persisting (pdf_parser.py's per-page
error handling); WAP is that contract made transactional at table
granularity, the Iceberg spark.wap.branch pattern."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.pipeline import extract, read_transcripts
from pdf_parser_spark.sources.cowtable import (create_branch, merge_into,
                                               read_manifest, read_table)
from pdf_parser_spark.sources.maintain import (CHUNK_KEY, _with_chunk_key,
                                               build_extracted_table,
                                               refresh_extracted_table,
                                               wap_refresh_extracted)
from pdf_parser_spark.sources.synth import write_transcripts_parquet


def _digest(df):
    df = df.withColumn("table_cells", F.col("table_cells").cast("string"))
    canon = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"),
                                                   F.lit("\x00"))
                                        for c in sorted(df.columns)]))
    h = F.conv(F.substring(canon, 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.sum(h).alias("s"), F.count("*").alias("n")).collect()[0]
    return (int(r.s) if r.s is not None else 0), int(r.n)


@pytest.fixture()
def tables(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=24, seed=11)
    turns = read_transcripts(spark, p).withColumn(
        "turn_key", F.concat_ws("#", "conv_id",
                                F.format_string("%06d", "turn_idx")))
    from pdf_parser_spark.sources.cowtable import create_table
    create_table(spark, turns.repartitionByRange(4, "turn_key"),
                 src, "turn_key")
    build_extracted_table(spark, src, dst)
    return src, dst


def _mutate_src(spark, src, text="edited for wap", n=3):
    turns = read_table(spark, src)
    keys = [r[0] for r in turns.select("turn_key").orderBy("turn_key")
            .limit(n).collect()]
    batch = (turns.where(F.col("turn_key").isin(keys))
             .withColumn("text", F.lit(text))
             .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, batch, batch_id=900 + n)


def test_wap_green_publishes_and_equals_rebuild(spark, tables):
    src, dst = tables
    _mutate_src(spark, src)
    out = wap_refresh_extracted(spark, src, dst)
    assert out["published"] is True
    assert out["audits"] == {"duplicate_chunk_key": 0, "null_text": 0,
                             "bad_char_count": 0}
    m = read_manifest(dst)
    assert m.get("branches", {}) == {}  # publish retired the ref
    assert m["src_version"] == read_manifest(src)["version"]
    full = _with_chunk_key(extract(read_table(spark, src)))
    assert _digest(read_table(spark, dst)) == _digest(full)


def test_wap_red_leaves_main_untouched_and_retryable(spark, tables):
    src, dst = tables
    before_digest = _digest(read_table(spark, dst))
    before_m = read_manifest(dst)
    _mutate_src(spark, src)
    # an audit that always fails: flags every changed row
    out = wap_refresh_extracted(
        spark, src, dst, audits={"always_red": lambda df: df})
    assert out["published"] is False
    assert out["audits"]["always_red"] > 0
    m = read_manifest(dst)
    assert m["version"] == before_m["version"]
    assert m.get("branches", {}) == {}  # red audit dropped the branch
    assert m["src_version"] == before_m["src_version"]  # no stamp
    assert _digest(read_table(spark, dst)) == before_digest
    # the ledger re-opened: a plain refresh of the SAME src version lands
    stats = refresh_extracted_table(spark, src, dst)
    assert not stats.get("skipped") and not stats["merge"].get("skipped")
    full = _with_chunk_key(extract(read_table(spark, src)))
    assert _digest(read_table(spark, dst)) == _digest(full)


def test_wap_noop_when_caught_up(spark, tables):
    src, dst = tables
    out = wap_refresh_extracted(spark, src, dst)
    assert out["published"] is False and out["skipped"] is True
    assert read_manifest(dst).get("branches", {}) == {}


def test_wap_retries_over_crashed_attempt(spark, tables):
    src, dst = tables
    _mutate_src(spark, src)
    # simulate a crash that left the staging branch behind
    src_v = read_manifest(src)["version"]
    create_branch(dst, f"wap-{src_v}")
    out = wap_refresh_extracted(spark, src, dst)
    assert out["published"] is True
    assert read_manifest(dst).get("branches", {}) == {}


def test_wap_custom_audit_green_path(spark, tables):
    src, dst = tables
    _mutate_src(spark, src, text="custom audit text")
    out = wap_refresh_extracted(
        spark, src, dst,
        audits={"no_empty_convs": lambda df:
                df.groupBy("conv_id").count().where(F.col("count") < 1)})
    assert out["published"] is True
    assert out["audits"]["no_empty_convs"] == 0


def test_live_wap_quarantines_bad_batch_and_recovers(spark, tmp_path):
    """Live maintenance with WAP: every micro-batch's re-extraction is
    audited on a branch. A clean batch publishes; a poisoned batch is
    quarantined (main never advances, the stream keeps running), and a
    later refresh with the audit removed lands the SAME source version
    because the drop re-opened the batch ledger."""
    import os

    from pdf_parser_spark.pipeline import read_transcripts
    from pdf_parser_spark.sources.cowtable import create_table
    from pdf_parser_spark.sources.maintain import (
        build_extracted_table, make_lineage_refresher)
    from pdf_parser_spark.streaming.cow_sink import merge_stream

    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=10, seed=31)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    turns = read_transcripts(spark, p).withColumn(
        "turn_key", F.concat_ws("#", "conv_id",
                                F.format_string("%06d", "turn_idx")))
    create_table(spark, turns.repartitionByRange(3, "turn_key"),
                 src, "turn_key")
    build_extracted_table(spark, src, dst)

    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    stream_dir = str(tmp_path / "cdc")
    os.makedirs(stream_dir)
    for i, (c, mark) in enumerate(zip(convs[:2], ("CLEAN", "POISON"))):
        (turns.where(F.col("conv_id") == c)
         .withColumn("text", F.concat(F.lit(mark + " "), "text"))
         .withColumn("op", F.lit("upsert"))
         .withColumn("lsn", F.monotonically_increasing_id())
         .write.mode("overwrite").parquet(f"{stream_dir}/f{i}"))

    audits = {"no_poison": lambda df:
              df.where(F.col("text").contains("POISON"))}
    follow = make_lineage_refresher(src, dst, wap=True, audits=audits)
    schema = (turns.withColumn("op", F.lit("x"))
              .withColumn("lsn", F.lit(0).cast("long")).schema)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(f"{stream_dir}/f*"))
    q = merge_stream(stream, src, str(tmp_path / "ckpt"),
                     order_col="lsn", on_commit=follow)
    q.awaitTermination(120)

    assert len(follow.log) == 2
    first, second = (e["chunks"] for e in follow.log)
    assert first["published"] is True
    assert second["published"] is False
    assert second["audits"]["no_poison"] > 0
    dst_read = read_table(spark, dst)
    assert dst_read.where(F.col("text").contains("CLEAN")).count() > 0
    assert dst_read.where(F.col("text").contains("POISON")).count() == 0
    assert read_manifest(dst).get("branches", {}) == {}
    # dst still reflects the CLEAN commit's source version, not HEAD
    assert read_manifest(dst)["src_version"] < read_manifest(src)["version"]
    # operator decision: the poison is legitimate — refresh without the
    # audit lands the quarantined version (ledger was re-opened)
    out = wap_refresh_extracted(spark, src, dst)
    assert out["published"] is True
    assert read_manifest(dst)["src_version"] == \
        read_manifest(src)["version"]
    full = _with_chunk_key(extract(read_table(spark, src)))
    assert _digest(read_table(spark, dst)) == _digest(full)


def test_wap_collapse_guard_quarantines_mass_shrink(spark, tables):
    """min_chunk_ratio: a refresh that would shrink the changed
    conversations' chunk count below the floor is quarantined — the
    guard against a broken extractor that emits almost nothing. A
    legitimate mass delete publishes with the guard off (the documented
    operator decision)."""
    src, dst = tables
    turns = read_table(spark, src)
    conv = sorted(r[0] for r in
                  turns.select("conv_id").distinct().collect())[0]
    # delete all but one turn of the conversation: its re-extraction
    # legitimately collapses, which is indistinguishable from extractor
    # breakage without the operator's say-so
    doomed = (turns.where(F.col("conv_id") == conv)
              .orderBy("turn_key").offset(1)
              .withColumn("op", F.lit("delete")))
    merge_into(spark, src, doomed, batch_id=401)
    out = wap_refresh_extracted(spark, src, dst, min_chunk_ratio=0.5)
    assert out["published"] is False
    assert out["audits"]["chunk_count_collapse"] == 1
    assert read_manifest(dst).get("branches", {}) == {}
    # operator confirms the shrink is real: republish without the guard
    out = wap_refresh_extracted(spark, src, dst)
    assert out["published"] is True
    full = _with_chunk_key(extract(read_table(spark, src)))
    assert _digest(read_table(spark, dst)) == _digest(full)


def test_wap_publishes_through_join_pruned_fallback(spark, tables):
    """A corpus-sized delta staged through WAP: the refresh reports
    convs=None (join-pruned), the audits recompute the changed set from
    the changelog instead of receiving a list, and a green run
    publishes a table digest-equal to a rebuild."""
    src, dst = tables
    turns = read_table(spark, src)
    batch = (turns.withColumn("text", F.concat(F.lit("W "), "text"))
             .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, batch)

    out = wap_refresh_extracted(spark, src, dst, min_chunk_ratio=0.5,
                                max_pruned_convs=4)
    assert out["published"] is True
    assert out["convs"] is None and out["pruning"] == "join"
    assert out["audits"]["duplicate_chunk_key"] == 0
    assert "chunk_count_collapse" in out["audits"]
    assert _digest(read_table(spark, dst)) == \
        _digest(_with_chunk_key(extract(read_table(spark, src))))


def test_wap_audits_src_commit_landing_mid_refresh(spark, tables,
                                                   monkeypatch):
    """A src commit that lands after wap_refresh_extracted reads src's
    version, but before the refresh pins its own, is staged with the
    rest. The join-pruned audits read every staged conversation, and
    the publish stamps the version the refresh pinned."""
    import pdf_parser_spark.sources.maintain as maintain

    src, dst = tables
    turns = read_table(spark, src)
    first = turns.orderBy("turn_key").first().conv_id
    late = turns.orderBy(F.col("turn_key").desc()).first().conv_id
    assert first != late
    _mutate_src(spark, src, n=1)
    real = maintain.refresh_extracted_table

    def racing_refresh(spark_, src_dir, *args, **kwargs):
        batch = (read_table(spark_, src_dir)
                 .where(F.col("conv_id") == late)
                 .withColumn("text", F.lit("landed mid-refresh"))
                 .withColumn("op", F.lit("upsert")))
        merge_into(spark_, src_dir, batch)
        return real(spark_, src_dir, *args, **kwargs)

    audited = set()

    def record(df):
        audited.update(r.conv_id for r in
                       df.select("conv_id").distinct().collect())
        return df.limit(0)

    monkeypatch.setattr(maintain, "refresh_extracted_table", racing_refresh)
    out = wap_refresh_extracted(spark, src, dst, max_pruned_convs=0,
                                audits={"record": record})
    assert out["published"] is True and out["convs"] is None
    assert audited == {first, late}
    assert read_manifest(dst)["src_version"] == read_manifest(src)["version"]
    assert _digest(read_table(spark, dst)) == \
        _digest(_with_chunk_key(extract(read_table(spark, src))))
