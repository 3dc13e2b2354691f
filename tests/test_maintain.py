"""Incremental extracted-table maintenance: CDC on the transcripts table
re-extracts only the changed conversations, and the maintained table is
digest-EQUAL to a full rebuild after every refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.pipeline import extract, read_transcripts
from pdf_parser_spark.sources.cowtable import (merge_into, read_manifest,
                                               read_table)
from pdf_parser_spark.sources.maintain import (CHUNK_KEY, _with_chunk_key,
                                               build_extracted_table,
                                               refresh_extracted_table)
from pdf_parser_spark.sources.synth import write_transcripts_parquet


def _digest(df):
    canon = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"),
                                                   F.lit("\x00"))
                                        for c in sorted(df.columns)]))
    h = F.conv(F.substring(canon, 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.sum(h).alias("s"), F.count("*").alias("n")).collect()[0]
    return (int(r.s) if r.s is not None else 0), int(r.n)


def _dropc(df):
    # table_cells is array<array<string>> — cast to string for digest
    return df.withColumn("table_cells", F.col("table_cells").cast("string"))


@pytest.fixture()
def tables(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=30, seed=7)
    turns = read_transcripts(spark, p).withColumn(
        "turn_key", F.concat_ws("#", "conv_id",
                                F.format_string("%06d", "turn_idx")))
    from pdf_parser_spark.sources.cowtable import create_table
    create_table(spark, turns.repartitionByRange(4, "turn_key"),
                 src, "turn_key")
    build_extracted_table(spark, src, dst)
    return src, dst


def _full_rebuild_digest(spark, src, cfg_chunks=None):
    full = _with_chunk_key(extract(read_table(spark, src)))
    return _digest(_dropc(full))


def test_initial_build_matches_full_extract(spark, tables):
    src, dst = tables
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)
    assert read_manifest(dst)["src_version"] == 1


def test_refresh_equals_full_rebuild(spark, tables):
    src, dst = tables
    turns = read_table(spark, src)
    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    touched, killed, newc = convs[0], convs[1], convs[2] + "_new"
    # update: rewrite one conversation's turn texts (re-chunks it)
    upd = (turns.where(F.col("conv_id") == touched)
           .withColumn("text", F.concat(F.lit("EDITED\n"), "text"))
           .withColumn("op", F.lit("upsert")))
    # delete: an entire conversation's turns
    dele = (turns.where(F.col("conv_id") == killed)
            .withColumn("op", F.lit("delete")))
    # insert: a brand-new conversation (clone with new ids)
    ins = (turns.where(F.col("conv_id") == convs[2])
           .withColumn("conv_id", F.lit(newc))
           .withColumn("turn_key",
                       F.concat_ws("#", "conv_id",
                                   F.format_string("%06d", "turn_idx")))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd.unionByName(dele).unionByName(ins))

    stats = refresh_extracted_table(spark, src, dst)
    assert stats["changed_convs"] == 3
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)
    out = read_table(spark, dst)
    assert out.where(F.col("conv_id") == killed).count() == 0
    assert out.where(F.col("conv_id") == newc).count() > 0
    # the edit visibly reached the re-extracted chunks (every turn text
    # was prefixed; the marker lands in each turn's first text chunk)
    assert out.where((F.col("conv_id") == touched)
                     & F.col("text").contains("EDITED")).count() > 0

    # idempotent: nothing new to reflect
    again = refresh_extracted_table(spark, src, dst)
    assert again.get("skipped") is True


def test_refresh_skips_compaction_only_steps(spark, tables):
    src, dst = tables
    from pdf_parser_spark.sources.cowtable import compact_table
    compact_table(spark, src, target_mb=64)
    stats = refresh_extracted_table(spark, src, dst)
    assert stats.get("skipped") is True and stats["changed_convs"] == 0
    assert read_manifest(dst)["src_version"] == 2
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)


def test_refresh_prunes_to_changed_conversations(spark, tables):
    """Scale contract: a 1-conversation CDC batch must not rewrite the
    whole extracted table — carried files stay, and only the changed
    conversation's chunk-key range is rewritten."""
    src, dst = tables
    turns = read_table(spark, src)
    one = sorted(r[0] for r in
                 turns.select("conv_id").distinct().collect())[5]
    upd = (turns.where(F.col("conv_id") == one)
           .withColumn("text", F.concat(F.lit("X "), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)
    n_files_before = len(read_manifest(dst)["snapshots"]["1"]["files"])
    stats = refresh_extracted_table(spark, src, dst)
    assert stats["changed_convs"] == 1
    m = stats["merge"]
    assert m["files_carried"] > 0                 # untouched files moved by name
    assert m["files_rewritten"] < n_files_before  # pruning actually bit


import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.executable), "spark-submit")


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not on PATH")
def test_maintain_job_spark_submit(tmp_path, spark):
    """jobs/maintain_job.py off the zip: --build creates the extracted
    table, a CDC commit + plain run refreshes it, an idle run skips."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    from package import build_zip

    zip_path = build_zip(str(tmp_path / "dist"))
    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=12, seed=33)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    turns = read_transcripts(spark, p).withColumn(
        "turn_key", F.concat_ws("#", "conv_id",
                                F.format_string("%06d", "turn_idx")))
    from pdf_parser_spark.sources.cowtable import create_table
    create_table(spark, turns.repartitionByRange(2, "turn_key"),
                 src, "turn_key")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    emb, store, ivf, met, dup = (str(tmp_path / d)
                                 for d in ("emb", "vecs", "ivf", "met",
                                           "dup"))
    base = [SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "maintain_job.py"),
            "--src", src, "--dst", dst,
            "--embed-dst", emb, "--embed-store", store,
            "--embed-dim", "16",
            "--ivf-dst", ivf, "--ivf-cells", "4", "--ivf-pq-m", "4",
            "--metrics-dst", met, "--dedup-dst", dup,
            "--tag", "prod", "--orphan-sweep-s", "3600"]

    def run(*extra):
        proc = subprocess.run([*base, *extra], capture_output=True,
                              text=True, timeout=300, cwd=str(tmp_path),
                              env=env)
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    out = run("--build", "--n-files", "2")
    assert out["build"]["created"] is True
    assert out["embed"]["created"] is True
    assert out["ivf"]["created"] is True and out["ivf"]["pq_m"] == 4
    assert out["metrics"]["created"] is True
    assert out["dedup_index"]["created"] is True
    assert "orphan_sweep" in out

    one = sorted(r[0] for r in
                 turns.select("conv_id").distinct().collect())[0]
    upd = (turns.where(F.col("conv_id") == one)
           .withColumn("text", F.concat(F.lit("J "), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)

    out = run()
    assert out["refresh"]["changed_convs"] == 1
    assert "merge" in out["embed"] and "merge" in out["ivf"]
    assert "merge" in out["dedup_index"]
    assert out["metrics"]["changed_convs"] == 1
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)

    out = run()
    assert out["refresh"].get("skipped") is True
    assert out["embed"].get("skipped") is True
    assert out["ivf"].get("skipped") is True
    assert out["metrics"].get("skipped") is True
    assert out["dedup_index"].get("skipped") is True
    # promote-on-green: the tag follows each maintained table's current
    # version and resolves through read_table
    assert set(out["tag"]) == {dst, emb, ivf, met, dup}
    tagged = read_table(spark, dst, version="prod")
    assert _digest(_dropc(tagged)) == _digest(_dropc(read_table(spark,
                                                                dst)))

    # --wap: the same refresh staged on a branch and published on green;
    # no branch survives the run and the table still equals a rebuild
    upd2 = (turns.where(F.col("conv_id") == one)
            .withColumn("text", F.concat(F.lit("W "), "text"))
            .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd2)
    out = run("--wap")
    assert out["refresh"]["published"] is True
    assert out["refresh"]["audits"]["duplicate_chunk_key"] == 0
    assert read_manifest(dst).get("branches", {}) == {}
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)

    # --wap-dup-gate-bands + --fsck: the dup gate runs as a WAP audit
    # (full-band threshold — an ordinary edit stays green) and the run
    # ends with every maintained table fsck-verified. The edited conv
    # must be one with NO natural cross-conv full-band dup (seed 33
    # has a duplicated pair; editing one of those would correctly
    # re-fire the gate on its unchanged chunks)
    from pdf_parser_spark.sources.dedup_index import dup_check_batch
    corpus = read_table(spark, dst)
    conv_of = lambda c: F.expr(f"substring({c}, 1, length({c}) - 7)")
    dirty = set(r[0] for r in
                dup_check_batch(spark, dup, corpus, id_col="chunk_key",
                                min_bands=4)
                .where(conv_of("probe_id") != conv_of("dup_of"))
                .select(conv_of("probe_id")).distinct().collect())
    clean = next(c for c in sorted(
        r[0] for r in turns.select("conv_id").distinct().collect())
        if c not in dirty)
    upd3 = (turns.where(F.col("conv_id") == clean)
            .withColumn("text", F.concat(F.lit("G "), "text"))
            .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd3)
    out = run("--wap", "--wap-dup-gate-bands", "4", "--fsck", "data",
              "--fsck-lineage", "3")
    assert out["refresh"]["published"] is True
    assert out["refresh"]["audits"]["near_dup"] == 0
    assert set(out["fsck"]) == {dst, emb, ivf, met, dup}
    assert all(r["ok"] for r in out["fsck"].values())
    assert out["fsck_lineage"]["ok"] is True
    assert len(out["fsck_lineage"]["sampled_convs"]) == 3


def test_cdc_stream_to_extracted_table_end_to_end(spark, tmp_path):
    """The full round-4 composition: a CDC stream lands on the
    transcripts cow table (streaming/cow_sink), the changelog names the
    touched conversations, and one refresh brings the extracted table
    digest-EQUAL to a full rebuild — no full re-extraction anywhere."""
    from pdf_parser_spark.sources.cowtable import create_table
    from pdf_parser_spark.streaming.cow_sink import merge_stream

    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=12, seed=13)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    turns = read_transcripts(spark, p).withColumn(
        "turn_key", F.concat_ws("#", "conv_id",
                                F.format_string("%06d", "turn_idx")))
    create_table(spark, turns.repartitionByRange(3, "turn_key"),
                 src, "turn_key")
    build_extracted_table(spark, src, dst)

    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    edited, killed = convs[3], convs[4]
    changes = (turns.where(F.col("conv_id") == edited)
               .withColumn("text", F.concat(F.lit("STREAMED "), "text"))
               .withColumn("op", F.lit("upsert"))
               .unionByName(turns.where(F.col("conv_id") == killed)
                            .withColumn("op", F.lit("delete")))
               .withColumn("lsn", F.monotonically_increasing_id()))
    stream_dir = str(tmp_path / "cdc_stream")
    changes.write.mode("overwrite").parquet(stream_dir)

    stream = (spark.readStream.schema(changes.schema)
              .option("maxFilesPerTrigger", "1").parquet(stream_dir))
    q = merge_stream(stream, src, str(tmp_path / "ckpt"), order_col="lsn")
    q.awaitTermination(120)

    assert read_manifest(src)["version"] >= 2
    stats = refresh_extracted_table(spark, src, dst)
    assert stats["changed_convs"] == 2
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)
    out = read_table(spark, dst)
    assert out.where(F.col("conv_id") == killed).count() == 0
    assert out.where(F.col("text").contains("STREAMED")).count() > 0


def test_refresh_rejects_config_mismatch(spark, tables):
    """One table, one config: a refresh with different extraction flags
    must raise, not silently mix semantics; cfg=None replays the
    recorded config."""
    from pdf_parser_spark.config import CLEANING_CONFIG
    src, dst = tables
    turns = read_table(spark, src)
    one = sorted(r[0] for r in
                 turns.select("conv_id").distinct().collect())[0]
    upd = (turns.where(F.col("conv_id") == one)
           .withColumn("text", F.concat(F.lit("Y "), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)
    with pytest.raises(ValueError, match="config mismatch"):
        refresh_extracted_table(spark, src, dst, CLEANING_CONFIG)
    stats = refresh_extracted_table(spark, src, dst)  # recorded config
    assert stats["changed_convs"] == 1


def test_live_maintenance_follows_cdc_stream(spark, tmp_path):
    """Materialized-view mode: the merge_stream on_commit hook refreshes
    the extracted table after EVERY micro-batch, so it tracks the source
    continuously — digest-equal to a full rebuild after each commit."""
    from pdf_parser_spark.sources.cowtable import create_table
    from pdf_parser_spark.streaming.cow_sink import merge_stream

    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=10, seed=29)
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
    import os
    os.makedirs(stream_dir)
    # two files -> two micro-batches (maxFilesPerTrigger=1): each edits
    # a different conversation
    for i, c in enumerate(convs[:2]):
        (turns.where(F.col("conv_id") == c)
         .withColumn("text", F.concat(F.lit(f"B{i} "), "text"))
         .withColumn("op", F.lit("upsert"))
         .withColumn("lsn", F.monotonically_increasing_id())
         .write.mode("overwrite").parquet(f"{stream_dir}/f{i}"))

    schema = (turns.withColumn("op", F.lit("x"))
              .withColumn("lsn", F.lit(0).cast("long")).schema)
    refresh_log = []

    def follow(sess, stats):
        out = refresh_extracted_table(sess, src, dst)
        refresh_log.append((stats["version"], out.get("changed_convs")))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(f"{stream_dir}/f*"))
    q = merge_stream(stream, src, str(tmp_path / "ckpt"),
                     order_col="lsn", on_commit=follow)
    q.awaitTermination(120)

    assert len(refresh_log) == 2          # one refresh per micro-batch
    assert all(n == 1 for _, n in refresh_log)
    assert read_manifest(dst)["src_version"] == \
        read_manifest(src)["version"]
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)
    out = read_table(spark, dst)
    assert out.where(F.col("text").contains("B0")).count() > 0
    assert out.where(F.col("text").contains("B1")).count() > 0


def test_mor_refresh_equals_full_rebuild_and_rewrite_masks(spark,
                                                           tables):
    """End-to-end merge-on-read maintenance: mor commits on the SOURCE,
    mor refresh on the DST — digest-equal to a full rebuild at every
    step — then targeted mask rewrite reconciles the dst without a full
    compaction and changes no rows."""
    from pdf_parser_spark.sources.cowtable import rewrite_masked_files
    src, dst = tables
    turns = read_table(spark, src)
    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    # round 1: mor update + delete on the source
    upd = (turns.where(F.col("conv_id") == convs[0])
           .withColumn("text", F.concat(F.lit("M1\n"), "text"))
           .withColumn("op", F.lit("upsert")))
    dele = (turns.where(F.col("conv_id") == convs[1])
            .withColumn("op", F.lit("delete")))
    merge_into(spark, src, upd.unionByName(dele), strategy="mor")
    s1 = refresh_extracted_table(spark, src, dst, strategy="mor")
    assert s1["merge"]["strategy"] == "mor"
    assert s1["merge"]["files_rewritten"] == 0
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)
    # round 2: a second mor edit touching the SAME conversation — the
    # pruned dst read must see through round 1's masks
    upd2 = (read_table(spark, src).where(F.col("conv_id") == convs[0])
            .withColumn("text", F.concat(F.lit("M2\n"), "text"))
            .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd2, strategy="mor")
    refresh_extracted_table(spark, src, dst, strategy="mor")
    before = _digest(_dropc(read_table(spark, dst)))
    assert before == _full_rebuild_digest(spark, src)
    # targeted reconciliation: only mask-bearing files rewrite
    st = rewrite_masked_files(spark, dst)
    m = read_manifest(dst)
    assert not m["snapshots"][str(m["version"])].get("deletes")
    assert st["delete_files_purged"] >= 2
    assert st["files_carried"] > 0 or st["files_rewritten"] > 0
    assert _digest(_dropc(read_table(spark, dst))) == before
    # the reconciliation snapshot diffs to ZERO changes
    from pdf_parser_spark.sources.cowtable import table_changes
    log = table_changes(spark, dst, m["version"] - 1, m["version"])
    assert log.count() == 0


def test_embedded_table_follows_chunk_cdc(spark, tables, tmp_path):
    """The full derived lineage: transcripts CDC -> chunk refresh ->
    embeddings refresh. The embeddings table stays digest-EQUAL to a
    full re-embed of the current chunk table, while the encoder runs
    only over genuinely new content (the cache absorbs the rest)."""
    from pdf_parser_spark.operators.embedding import embed_incremental
    from pdf_parser_spark.sources.maintain import (build_embedded_table,
                                                   refresh_embedded_table)
    src, dst = tables
    emb_dir = str(tmp_path / "emb")
    store = str(tmp_path / "vecs")
    st0 = build_embedded_table(spark, dst, emb_dir, store, dim=16)
    assert st0["new_embeddings"] > 0

    def full_twin_digest():
        twin = str(tmp_path /
                   f"vecs_twin_{read_manifest(dst)['version']}")
        out, _ = embed_incremental(read_table(spark, dst), twin, dim=16)
        return _digest(_dropc(out))

    assert _digest(_dropc(read_table(spark, emb_dir))) == \
        full_twin_digest()

    # CDC round: edit one conversation, kill another
    turns = read_table(spark, src)
    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    upd = (turns.where(F.col("conv_id") == convs[0])
           .withColumn("text", F.concat(F.lit("NEW\n"), "text"))
           .withColumn("op", F.lit("upsert")))
    dele = (turns.where(F.col("conv_id") == convs[1])
            .withColumn("op", F.lit("delete")))
    merge_into(spark, src, upd.unionByName(dele))
    refresh_extracted_table(spark, src, dst)

    st = refresh_embedded_table(spark, dst, emb_dir, store)
    # encoder ran only over the edited conversation's new content
    assert 0 < st["new_embeddings"]
    out = read_table(spark, emb_dir)
    assert out.where(F.col("conv_id") == convs[1]).count() == 0
    assert _digest(_dropc(out)) == full_twin_digest()
    # idempotent replay (ledgered under the chunk-table version)
    st2 = refresh_embedded_table(spark, dst, emb_dir, store)
    assert st2.get("skipped") is True


def test_ivf_index_follows_embedding_cdc(spark, tables, tmp_path):
    """Third derivation hop: embeddings CDC -> IVF index refresh. Probe
    answers equal a fresh assignment over the current embeddings, the
    probe scan opens only files whose cell bounds intersect the probe
    set, and cell-clustered compaction restores tight bounds."""
    from pdf_parser_spark.operators.embedding import hash_embed_py
    from pdf_parser_spark.operators.similarity import (brute_force_topk,
                                                       ivf_assign,
                                                       rank_cells_by_query)
    from pdf_parser_spark.sources.cowtable import (compact_table,
                                                   files_for_values)
    from pdf_parser_spark.sources.maintain import (build_embedded_table,
                                                   build_ivf_table,
                                                   ivf_probe_topk,
                                                   refresh_embedded_table,
                                                   refresh_ivf_table)
    src, dst = tables
    emb_dir, store, ivf_dir = (str(tmp_path / d)
                               for d in ("emb", "vecs", "ivf"))
    build_embedded_table(spark, dst, emb_dir, store, dim=16)
    st = build_ivf_table(spark, emb_dir, ivf_dir, n_cells=4,
                         n_files=4)
    assert st["n_cells"] == 4
    cents = read_manifest(ivf_dir)["ivf_centroids"]
    q = hash_embed_py("probe text", 16)

    def fresh_twin(k, n_probe):
        probe = rank_cells_by_query(cents, q)[:n_probe]
        valid = read_table(spark, emb_dir).where(
            F.size(F.col("embedding")) > 0)
        cells = ivf_assign(valid, cents, "embedding")
        return brute_force_topk(
            cells.where(F.col("ivf_cell").isin(probe)), q, k,
            "embedding", "chunk_key")

    def pin(df):
        return [(r.chunk_key, round(r.similarity, 6))
                for r in df.collect()]

    assert pin(ivf_probe_topk(spark, ivf_dir, q, k=5, n_probe=2)) == \
        pin(fresh_twin(5, 2))
    # the probe scan is file-pruned by the ivf_cell colstats
    probe = rank_cells_by_query(cents, q)[:1]
    m = read_manifest(ivf_dir)
    all_files = m["snapshots"][str(m["version"])]["files"]
    hit = files_for_values(spark, ivf_dir, "ivf_cell", probe)
    assert 0 < len(hit) < len(all_files)

    # CDC: edit one conversation -> embeddings refresh -> index refresh
    turns = read_table(spark, src)
    conv = sorted(r[0] for r in
                  turns.select("conv_id").distinct().collect())[0]
    upd = (turns.where(F.col("conv_id") == conv)
           .withColumn("text", F.concat(F.lit("IVF\n"), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)
    refresh_extracted_table(spark, src, dst)
    refresh_embedded_table(spark, dst, emb_dir, store)
    st2 = refresh_ivf_table(spark, emb_dir, ivf_dir)
    assert "merge" in st2
    assert pin(ivf_probe_topk(spark, ivf_dir, q, k=5, n_probe=2)) == \
        pin(fresh_twin(5, 2))
    # replay is a no-op
    assert refresh_ivf_table(spark, emb_dir, ivf_dir)["skipped"] is True
    # cell-clustered compaction keeps answers and restores clustering
    compact_table(spark, ivf_dir, cluster_by=["ivf_cell"])
    assert pin(ivf_probe_topk(spark, ivf_dir, q, k=5, n_probe=2)) == \
        pin(fresh_twin(5, 2))
    # colstats re-recorded for the compacted files (the tiny test table
    # folds to one file, so pruning selectivity is exercised above on
    # the multi-file layout, not here)
    m2 = read_manifest(ivf_dir)
    cur_files = m2["snapshots"][str(m2["version"])]["files"]
    assert all(f in m2["colstats"]["ivf_cell"] for f in cur_files)


def test_live_lineage_follows_cdc_stream(spark, tmp_path):
    """The WHOLE lineage as a materialized view: one CDC stream commit
    ripples through chunks -> embeddings -> IVF via the composed
    on_commit hook, each hop ending digest-consistent with its
    upstream."""
    from pdf_parser_spark.operators.embedding import (embed_incremental,
                                                      hash_embed_py)
    from pdf_parser_spark.operators.similarity import (brute_force_topk,
                                                       ivf_assign,
                                                       rank_cells_by_query)
    from pdf_parser_spark.sources.cowtable import create_table
    from pdf_parser_spark.sources.maintain import (build_embedded_table,
                                                   build_ivf_table,
                                                   ivf_probe_topk,
                                                   make_lineage_refresher)
    from pdf_parser_spark.streaming.cow_sink import merge_stream

    p = str(tmp_path / "t.parquet")
    write_transcripts_parquet(p, n_convs=10, seed=31)
    src, dst, emb_dir, store, ivf_dir = (str(tmp_path / d) for d in
                                         ("src", "dst", "emb", "vecs",
                                          "ivf"))
    turns = read_transcripts(spark, p).withColumn(
        "turn_key", F.concat_ws("#", "conv_id",
                                F.format_string("%06d", "turn_idx")))
    create_table(spark, turns.repartitionByRange(3, "turn_key"),
                 src, "turn_key")
    build_extracted_table(spark, src, dst)
    build_embedded_table(spark, dst, emb_dir, store, dim=16)
    build_ivf_table(spark, emb_dir, ivf_dir, n_cells=4, n_files=3)

    conv = sorted(r[0] for r in
                  turns.select("conv_id").distinct().collect())[0]
    stream_dir = str(tmp_path / "cdc")
    import os
    os.makedirs(stream_dir)
    (turns.where(F.col("conv_id") == conv)
     .withColumn("text", F.concat(F.lit("LIVE "), "text"))
     .withColumn("op", F.lit("upsert"))
     .withColumn("lsn", F.monotonically_increasing_id())
     .write.mode("overwrite").parquet(f"{stream_dir}/f0"))

    schema = (turns.withColumn("op", F.lit("x"))
              .withColumn("lsn", F.lit(0).cast("long")).schema)
    met_dir = str(tmp_path / "metrics")
    from pdf_parser_spark.sources.maintain import build_metrics_table
    build_metrics_table(spark, dst, met_dir)
    follow = make_lineage_refresher(src, dst, emb_dir, store, ivf_dir,
                                    metrics_dir=met_dir)
    stream = spark.readStream.schema(schema).parquet(f"{stream_dir}/f*")
    q = merge_stream(stream, src, str(tmp_path / "ckpt"),
                     order_col="lsn", on_commit=follow)
    q.awaitTermination(120)

    assert len(follow.log) == 1
    # every hop reflects its upstream's current version
    assert read_manifest(dst)["src_version"] == \
        read_manifest(src)["version"]
    assert read_manifest(emb_dir)["src_version"] == \
        read_manifest(dst)["version"]
    assert read_manifest(ivf_dir)["src_version"] == \
        read_manifest(emb_dir)["version"]
    assert read_manifest(met_dir)["src_version"] == \
        read_manifest(dst)["version"]
    from pdf_parser_spark.pipeline import extraction_metrics
    assert _digest(read_table(spark, met_dir)) == \
        _digest(extraction_metrics(read_table(spark, dst)))
    # embeddings digest-equal to a full re-embed of the current chunks
    out, _ = embed_incremental(read_table(spark, dst),
                               str(tmp_path / "vtwin"), dim=16)
    assert _digest(_dropc(read_table(spark, emb_dir))) == \
        _digest(_dropc(out))
    # the probe sees the LIVE edit through the whole lineage
    cents = read_manifest(ivf_dir)["ivf_centroids"]
    q_vec = hash_embed_py("probe", 16)
    got = [(r.chunk_key, round(r.similarity, 6)) for r in
           ivf_probe_topk(spark, ivf_dir, q_vec, k=5, n_probe=2)
           .collect()]
    valid = read_table(spark, emb_dir).where(
        F.size(F.col("embedding")) > 0)
    probe = rank_cells_by_query(cents, q_vec)[:2]
    want = [(r.chunk_key, round(r.similarity, 6)) for r in
            brute_force_topk(ivf_assign(valid, cents, "embedding")
                             .where(F.col("ivf_cell").isin(probe)),
                             q_vec, 5, "embedding", "chunk_key")
            .collect()]
    assert got == want


def test_maintained_ivfadc_follows_cdc(spark, tables, tmp_path):
    """IVFADC on the maintained index: ADC probe answers equal the
    fresh quantize.ivfpq_search path on the SAME geometry (manifest
    centroids + codebooks), before AND after a CDC round; refreshed
    rows' codes equal a fresh encode with the stored codebooks."""
    from pdf_parser_spark.operators.embedding import hash_embed_py
    from pdf_parser_spark.operators.quantize import ivfpq_search
    from pdf_parser_spark.sources.maintain import (build_embedded_table,
                                                   build_ivf_table,
                                                   ivfadc_probe_topk,
                                                   refresh_embedded_table,
                                                   refresh_ivf_table)
    src, dst = tables
    emb_dir, store, ivf_dir = (str(tmp_path / d)
                               for d in ("emb", "vecs", "ivfadc"))
    build_embedded_table(spark, dst, emb_dir, store, dim=16)
    st = build_ivf_table(spark, emb_dir, ivf_dir, n_cells=4, n_files=4,
                         pq_m=4, pq_k=8)
    assert st["pq_m"] == 4
    m = read_manifest(ivf_dir)
    cents, cbs = m["ivf_centroids"], m["pq_codebooks"]
    q = hash_embed_py("probe text", 16)

    def pin(df):
        return [(r.chunk_key, round(r.l2_dist, 6)) for r in df.collect()]

    def fresh(k, n_probe, overfetch):
        valid = read_table(spark, emb_dir).where(
            F.size(F.col("embedding")) > 0)
        return ivfpq_search(valid, cents, cbs, q, top_k=k,
                            n_probe=n_probe, overfetch=overfetch,
                            id_col="chunk_key")

    got = ivfadc_probe_topk(spark, ivf_dir, q, k=5, n_probe=2,
                            overfetch=4)
    assert got.columns == ["chunk_key", "l2_dist", "rank"]
    assert pin(got) == pin(fresh(5, 2, 4))

    # CDC round: edit one conversation end-to-end through the lineage
    turns = read_table(spark, src)
    conv = sorted(r[0] for r in
                  turns.select("conv_id").distinct().collect())[0]
    upd = (turns.where(F.col("conv_id") == conv)
           .withColumn("text", F.concat(F.lit("ADC\n"), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)
    refresh_extracted_table(spark, src, dst)
    refresh_embedded_table(spark, dst, emb_dir, store)
    st2 = refresh_ivf_table(spark, emb_dir, ivf_dir)
    assert "merge" in st2
    assert pin(ivfadc_probe_topk(spark, ivf_dir, q, k=5, n_probe=2,
                                 overfetch=4)) == pin(fresh(5, 2, 4))
    # refreshed rows carry codes identical to a fresh encode with the
    # stored codebooks (add-to-trained-index invariant)
    from pdf_parser_spark.operators.quantize import ivfpq_encode
    cur = read_table(spark, ivf_dir)
    fresh_codes = ivfpq_encode(
        read_table(spark, emb_dir).where(F.size(F.col("embedding")) > 0),
        cents, cbs, emb_col="embedding", id_col="chunk_key")
    mismatch = (cur.select("chunk_key", "ivf_cell", "pq_codes")
                .exceptAll(fresh_codes
                           .select("chunk_key", "ivf_cell", "pq_codes")))
    assert mismatch.count() == 0


def test_ivfadc_candidate_scan_prunes_embedding_column(spark, tables,
                                                       tmp_path):
    """The docs claim ADC candidate generation reads (key, cell, codes)
    with the wide embedding column UNREAD — pin it in the physical
    plan: the candidate stage's parquet ReadSchema must not contain
    'embedding', and the full probe's first-stage scans stay narrow."""
    from pdf_parser_spark.operators.quantize import ivfpq_adc_topk
    from pdf_parser_spark.operators.similarity import rank_cells_by_query
    from pdf_parser_spark.sources.cowtable import read_for_values
    from pdf_parser_spark.sources.maintain import (CHUNK_KEY,
                                                   build_embedded_table,
                                                   build_ivf_table)
    src, dst = tables
    emb_dir, store, ivf_dir = (str(tmp_path / d)
                               for d in ("emb", "vecs", "ivfp"))
    build_embedded_table(spark, dst, emb_dir, store, dim=16)
    build_ivf_table(spark, emb_dir, ivf_dir, n_cells=4, n_files=4,
                    pq_m=4, pq_k=8)
    m = read_manifest(ivf_dir)
    cents, cbs = m["ivf_centroids"], m["pq_codebooks"]
    from pdf_parser_spark.operators.embedding import hash_embed_py
    q = hash_embed_py("probe text", 16)
    probe = rank_cells_by_query(cents, q)[:2]
    hits = read_for_values(spark, ivf_dir, "ivf_cell", probe)
    cand = ivfpq_adc_topk(hits.select(CHUNK_KEY, "ivf_cell", "pq_codes"),
                          cents, cbs, q, top_k=20, n_probe=2,
                          id_col=CHUNK_KEY)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    assert all("embedding" not in ln for ln in scans), scans


def test_metrics_table_follows_chunk_cdc(spark, tables, tmp_path):
    """Incremental view maintenance of the summary sink: the per-conv
    metrics table follows the chunk changelog — only changed
    conversations re-aggregate — and stays digest-EQUAL to a full
    re-aggregation through an edit, a whole-conversation delete, and a
    replayed refresh."""
    from pdf_parser_spark.pipeline import extraction_metrics
    from pdf_parser_spark.sources.maintain import (build_metrics_table,
                                                   refresh_metrics_table)
    src, dst = tables
    mdir = str(tmp_path / "metrics")
    build_metrics_table(spark, dst, mdir)

    def full_digest():
        return _digest(extraction_metrics(read_table(spark, dst)))

    assert _digest(read_table(spark, mdir)) == full_digest()

    turns = read_table(spark, src)
    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    # edit one conversation, delete another entirely
    batch = (turns.where(F.col("conv_id") == convs[0])
             .withColumn("text", F.concat(F.lit("M "), "text"))
             .withColumn("op", F.lit("upsert"))
             .unionByName(turns.where(F.col("conv_id") == convs[1])
                          .withColumn("op", F.lit("delete"))))
    merge_into(spark, src, batch)
    refresh_extracted_table(spark, src, dst)
    out = refresh_metrics_table(spark, dst, mdir)
    assert out["changed_convs"] == 2
    assert out["merge"]["batch_rows"] == 2  # 1 upsert + 1 delete
    got = read_table(spark, mdir)
    assert _digest(got) == full_digest()
    assert got.where(F.col("conv_id") == convs[1]).count() == 0
    # replay is a ledger no-op; caught-up refresh skips
    assert refresh_metrics_table(spark, dst, mdir)["skipped"] is True


def test_conv_filter_join_side_matches_isin(spark, tables):
    """Past ``_ISIN_MAX`` conversations the filter semi-joins against a
    frame built from the list; it keeps exactly the rows an isin keeps."""
    from pdf_parser_spark.sources.maintain import _ISIN_MAX, _conv_filter
    src, _ = tables
    turns = read_table(spark, src)
    present = sorted(r[0] for r in
                     turns.select("conv_id").distinct().collect())[::2]
    convs = present + [f"absent_{i}" for i in range(_ISIN_MAX)]
    got = _conv_filter(spark, turns, convs)
    want = turns.where(F.col("conv_id").isin(present))
    assert _digest(got) == _digest(want) and _digest(want)[1] > 0


def test_huge_delta_falls_back_to_join_pruning(spark, tables):
    """Past ``max_pruned_convs`` the refresh must NOT collect the
    changed ids into a driver list (the 10^8-conversation OOM); it
    falls back to join-based pruning — and still meets the
    digest-equal-to-rebuild contract."""
    src, dst = tables
    turns = read_table(spark, src)
    # touch EVERY conversation: a corpus-sized delta
    upd = (turns.withColumn("text", F.concat(F.lit("XL "), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)

    stats = refresh_extracted_table(spark, src, dst, max_pruned_convs=5)
    assert stats["pruning"] == "join"
    assert stats["convs"] is None  # the list never existed
    assert stats["changed_convs"] == 30
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)
    # caught up: the next refresh skips
    assert refresh_extracted_table(
        spark, src, dst, max_pruned_convs=5).get("skipped") is True


def test_small_delta_keeps_list_pruning(spark, tables):
    """Under the cap nothing changes: list-driven pruned reads, convs
    returned for the WAP audit."""
    src, dst = tables
    turns = read_table(spark, src)
    conv = turns.select("conv_id").orderBy("conv_id").first()[0]
    upd = (turns.where(F.col("conv_id") == conv)
           .withColumn("text", F.concat(F.lit("S "), "text"))
           .withColumn("op", F.lit("upsert")))
    merge_into(spark, src, upd)
    stats = refresh_extracted_table(spark, src, dst, max_pruned_convs=5)
    assert stats["pruning"] == "list" and stats["convs"] == [conv]
    assert _digest(_dropc(read_table(spark, dst))) == \
        _full_rebuild_digest(spark, src)


def test_metrics_huge_delta_falls_back_to_join_pruning(spark, tables,
                                                       tmp_path):
    """The metrics refresh has the same driver-list guard; the fallback
    still re-aggregates exactly the changed conversations and matches a
    full re-aggregation, including the stale-row delete."""
    from pdf_parser_spark.pipeline import extraction_metrics
    from pdf_parser_spark.sources.maintain import (build_metrics_table,
                                                   refresh_metrics_table)
    src, dst = tables
    mdir = str(tmp_path / "metrics")
    build_metrics_table(spark, dst, mdir)

    turns = read_table(spark, src)
    convs = sorted(r[0] for r in
                   turns.select("conv_id").distinct().collect())
    # rewrite every conversation AND delete one entirely
    batch = (turns.where(F.col("conv_id") != convs[0])
             .withColumn("text", F.concat(F.lit("M "), "text"))
             .withColumn("op", F.lit("upsert"))
             .unionByName(turns.where(F.col("conv_id") == convs[0])
                          .withColumn("op", F.lit("delete"))))
    merge_into(spark, src, batch)
    refresh_extracted_table(spark, src, dst, max_pruned_convs=5)
    out = refresh_metrics_table(spark, dst, mdir, max_pruned_convs=5)
    assert out["pruning"] == "join"
    assert out["changed_convs"] == 30
    got = read_table(spark, mdir)
    assert _digest(got) == _digest(
        extraction_metrics(read_table(spark, dst)))
    assert got.where(F.col("conv_id") == convs[0]).count() == 0
