"""Incremental maintenance of the extracted-chunks table from source CDC.

The 10^12-turn regime's must-have: when a CDC batch lands on the
transcripts table, DO NOT re-extract the world — re-extract exactly the
conversations whose turns changed and merge the result into the
extracted table. Extraction is a pure per-conversation function (chunk
merge windows and boilerplate mining both group by conv_id —
core/merge.py, operators/boilerplate.py), so per-conversation
recomputation is EQUAL to a full rebuild, which the tests pin by
digest.

Plan shape per refresh:
  table_changes(src, last_seen, now)       # reads only files the two
                                           # manifests do not share
  -> distinct conv_id                      # CDC-sized (driver-safe)
  -> re-extract those conversations        # source scan pruned to them
  -> MERGE into the extracted cow table:   # file-pruned by chunk key
       upsert every recomputed chunk,
       delete stale chunk keys (a conversation that shrank or vanished)

Single-config invariant: the ExtractionConfig is recorded in the target
manifest at build time and every refresh validates against it — a
refresh run with different flags would silently mix extraction
semantics within one table, so it raises instead.

Exactly-once: the merge is ledgered under the source version it
reflects, and the reflected version is recorded in the target manifest
AFTER the merge commits — a crash between the two replays into a
ledger no-op, then records. All reads pin the source version the
changelog was computed against, so a concurrent source commit cannot
leak newer data into this refresh. Both tables stay time-travelable.

Reference analog: none — the reference re-parses a PDF when asked
(pdf_parser.py is stateless per call); this is the incremental-view
half that makes the extraction pipeline operable as data keeps
arriving.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pdf_parser_spark.config import ExtractionConfig
from pdf_parser_spark.pipeline import extract
from pdf_parser_spark.session import local_frame
from pdf_parser_spark.sources.cowtable import (_commit, _delete_entries,
                                               _masked_read, create_table,
                                               file_key_bounds,
                                               files_intersecting_ranges,
                                               merge_into, read_manifest,
                                               read_table, table_changes)

CHUNK_KEY = "chunk_key"
_CONV_SCHEMA = StructType([StructField("conv_id", StringType())])

# above this many changed conversations, filter by join instead of an
# inlined isin literal (a multi-thousand-value In expression bloats the
# plan; the join side is still broadcast-sized)
_ISIN_MAX = 1000

# U+FFFF: above every code point that appears in conv ids, so
# [conv#, conv#￿] covers exactly the conversation's key range
_HI = "￿"


def _with_chunk_key(chunks: DataFrame) -> DataFrame:
    """conv_id#chunk_idx — one string key per chunk row, contiguous per
    conversation so re-extraction touches contiguous key ranges and the
    merge's footer-stats pruning bites."""
    return chunks.withColumn(
        CHUNK_KEY, F.concat_ws("#", F.col("conv_id"),
                               F.format_string("%06d", F.col("chunk_idx"))))


def _conv_filter(spark: SparkSession, df: DataFrame,
                 convs: list[str]) -> DataFrame:
    if len(convs) <= _ISIN_MAX:
        return df.where(F.col("conv_id").isin(convs))
    # build the join side from the already-collected list — joining the
    # original changelog plan here would re-execute the whole diff
    convs_df = local_frame(spark, [(c,) for c in convs], _CONV_SCHEMA)
    return df.join(F.broadcast(convs_df), "conv_id", "left_semi")


def _pruned_conv_read(spark: SparkSession, table_dir: str,
                      convs: list[str],
                      version: int | None = None) -> DataFrame:
    """The named snapshot restricted to ``convs`` — opening ONLY files
    whose key range intersects some conversation's key-prefix range
    (keys are ``conv_id#...``, so a conversation is the range
    [conv#, conv#\\uffff]). Bounds come from the manifest's cached stats
    (falling back to one footer-metadata job), then a scan of O(changed)
    files instead of O(table); the residual filter drops range false
    positives. Interval pruning is cowtable.files_intersecting_ranges —
    the same routine the merge uses."""
    m = read_manifest(table_dir)
    v = m["version"] if version is None else version
    files = m["snapshots"][str(v)]["files"]
    if not files:
        return _conv_filter(spark,
                            read_table(spark, table_dir, version=v), convs)
    bounds = file_key_bounds(spark, table_dir, files, m["key_col"],
                             manifest=m)
    hit = files_intersecting_ranges(
        bounds, [(c + "#", c + "#" + _HI) for c in convs])
    if not hit:
        return read_table(spark, table_dir, version=v).limit(0)
    # masked read: under merge-on-read commits the pruned files can
    # hold equality-deleted rows; the mask join is a no-op otherwise
    return _conv_filter(spark,
                        _masked_read(spark, m, table_dir, sorted(hit),
                                     _delete_entries(m["snapshots"]
                                                     [str(v)])),
                        convs)


# Cap on the changed-conversation driver list. The pruned-read regime
# collects changed conv_ids into a Python list to drive file pruning —
# right for the CDC-delta trickles it is designed for, but a pathological
# batch touching 10^8 conversations would OOM the driver with no
# diagnostic. Past the cap the refreshes fall back to JOIN-BASED pruning:
# the changed set stays a DataFrame, reads become full-snapshot scans
# left-semi-joined on conv_id (one extra corpus scan — the right trade
# when the delta IS corpus-sized), and the stats dict carries
# ``convs=None`` so downstream audits recompute the changed set from the
# changelog instead of receiving a list.
MAX_PRUNED_CONVS = 100_000


def _changed_conv_list(changed: DataFrame,
                       cap: int | None) -> list[str] | None:
    """The changed conv_ids as a sorted driver list, or None when they
    exceed ``cap``. The probe is ``limit(cap+1).collect()``, so the
    driver never materializes more than cap+1 ids even when the delta
    names every conversation in the corpus."""
    if cap is None:
        return sorted(r[0] for r in changed.collect())
    head = changed.limit(cap + 1).collect()
    if len(head) > cap:
        return None
    return sorted(r[0] for r in head)


def _cfg_dict(cfg: ExtractionConfig) -> dict:
    return dataclasses.asdict(cfg)


def _record_src_version(dst_dir: str, src_version: int) -> None:
    m = read_manifest(dst_dir)
    m["src_version"] = src_version
    _commit(dst_dir, m)


def build_extracted_table(spark: SparkSession, src_dir: str, dst_dir: str,
                          cfg: ExtractionConfig = ExtractionConfig(),
                          *, n_files: int = 8) -> dict:
    """Initial full extraction of the transcripts cow table at ``src_dir``
    into a chunk-keyed cow table at ``dst_dir`` (range-laid-out on the
    chunk key so later refreshes prune). The reflected source version
    and the extraction config land in the SAME manifest commit as the
    table creation — no wedged half-initialized state exists."""
    src_v = read_manifest(src_dir)["version"]
    chunks = _with_chunk_key(
        extract(read_table(spark, src_dir, version=src_v), cfg))
    create_table(spark,
                 chunks.repartitionByRange(n_files, CHUNK_KEY),
                 dst_dir, CHUNK_KEY,
                 extra={"src_version": src_v,
                        "extract_cfg": _cfg_dict(cfg)})
    return {"src_version": src_v, "created": True}


def refresh_extracted_table(spark: SparkSession, src_dir: str,
                            dst_dir: str,
                            cfg: ExtractionConfig | None = None,
                            strategy: str = "cow",
                            branch: str | None = None,
                            stamp: bool = True,
                            max_pruned_convs: int | None =
                            MAX_PRUNED_CONVS) -> dict:
    """Advance ``dst_dir`` to reflect ``src_dir``'s current version by
    re-extracting ONLY conversations the changelog names. ``cfg``
    defaults to (and must equal) the config recorded at build time.
    Returns the refresh stats (changed conversations, merge stats,
    versions). ``strategy='mor'`` applies the chunk merge as a
    merge-on-read commit — the right mode when refreshes fire per
    micro-batch (live maintenance): the dst table's chunk files stop
    being rewritten every trigger; run ``compact_table`` on it
    periodically to purge the accumulated masks.

    ``branch``: stage the merge on a cow-table branch instead of main
    (the WAP write step — see ``wap_refresh_extracted``). The staged
    commit reads old chunks at the BRANCH head and, with
    ``stamp=False``, leaves the reflects-src_v marker for the publish
    step; stage ONE refresh per branch, then publish or drop — the
    from_v bookkeeping tracks MAIN's marker, so stacking unpublished
    refreshes would re-extract the first batch's conversations."""
    src_v = read_manifest(src_dir)["version"]
    dst_m = read_manifest(dst_dir)
    from_v = dst_m.get("src_version")
    if from_v is None:
        raise ValueError(f"{dst_dir} records no src_version — build it "
                         "with build_extracted_table first")
    recorded = dst_m.get("extract_cfg")
    if cfg is None:
        if recorded is None:
            raise ValueError(f"{dst_dir} records no extract_cfg and none "
                             "was passed")
        cfg = ExtractionConfig(**recorded)
    elif recorded is not None and _cfg_dict(cfg) != recorded:
        raise ValueError(
            "extraction config mismatch: the table was built with "
            f"{recorded}, refresh got {_cfg_dict(cfg)} — mixing configs "
            "in one table breaks the digest-equal-to-rebuild contract; "
            "rebuild with the new config instead")
    if from_v >= src_v:
        return {"skipped": True, "src_version": src_v}

    changed = (table_changes(spark, src_dir, from_v, src_v)
               .select("conv_id").distinct())
    convs = _changed_conv_list(changed, max_pruned_convs)
    if convs is not None and not convs:  # e.g. only compaction steps
        if stamp:
            _record_src_version(dst_dir, src_v)
        return {"skipped": True, "src_version": src_v,
                "changed_convs": 0, "convs": []}

    # reads pin src_v: a source commit landing mid-refresh must not leak
    # newer rows into a table that will record "reflects src_v"
    dst_v = (dst_m["branches"][branch]["head"] if branch is not None
             else None)
    if convs is None:
        # huge-delta fallback (> max_pruned_convs changed): join-based
        # pruning — the changed set never touches the driver; cache it
        # because the changelog diff (exceptAll) would otherwise re-run
        # under both semi-joins and the count
        changed = changed.cache()
        n_changed = changed.count()
        src_rows = (read_table(spark, src_dir, version=src_v)
                    .join(changed, "conv_id", "left_semi"))
        old_chunks = (read_table(spark, dst_dir, version=dst_v)
                      .join(changed, "conv_id", "left_semi"))
    else:
        n_changed = len(convs)
        src_rows = _pruned_conv_read(spark, src_dir, convs,
                                     version=src_v)
        old_chunks = _pruned_conv_read(spark, dst_dir, convs,
                                       version=dst_v)
    new_chunks = _with_chunk_key(extract(src_rows, cfg))
    stale = old_chunks.join(new_chunks.select(CHUNK_KEY),
                            CHUNK_KEY, "left_anti")
    batch = (new_chunks.withColumn("op", F.lit("upsert"))
             .unionByName(stale.withColumn("op", F.lit("delete"))))
    try:
        stats = merge_into(spark, dst_dir, batch, batch_id=src_v,
                           strategy=strategy, branch=branch)
    finally:
        if convs is None:
            changed.unpersist()
    if stamp:
        _record_src_version(dst_dir, src_v)
    # convs is driver-sized by construction (it was collected to drive
    # the pruned reads); returning it lets WAP audit exactly these rows.
    # convs=None signals the join-pruned fallback: audits must recompute
    # the changed set from the changelog (wap_refresh_extracted does).
    return {"src_version": src_v, "from_version": from_v,
            "changed_convs": n_changed, "convs": convs,
            "pruning": "join" if convs is None else "list",
            "merge": stats}


# --- write-audit-publish (WAP) refresh ---------------------------------------

def wap_refresh_extracted(spark: SparkSession, src_dir: str, dst_dir: str,
                          cfg: ExtractionConfig | None = None,
                          strategy: str = "cow",
                          audits: dict | None = None,
                          min_chunk_ratio: float | None = None,
                          max_pruned_convs: int | None =
                          MAX_PRUNED_CONVS) -> dict:
    """Write-audit-publish refresh: the refresh merge lands on a
    throwaway BRANCH of ``dst_dir``, data-quality audits run against the
    branch read, and main moves only on green — a red audit drops the
    branch and main never served a single staged row. This is Iceberg's
    WAP pattern (spark.wap.branch + fastForwardBranch) rebuilt on the
    cow table's branch refs.

    Audits read ONLY the changed conversations at the branch head — the
    only rows this commit could have broken; every unchanged row passed
    the same audits when its own commit landed. Built-in audits run as
    ONE aggregation pass: duplicate chunk keys, NULL text, NULL/negative
    char_count. ``audits`` adds named callables ``df -> violations_df``
    over the same changed-conv branch read; each must return an empty
    DataFrame to pass.

    ``min_chunk_ratio``: the collapse guard — fail the audit when the
    staged chunk count for the changed conversations drops below this
    fraction of their PRE-refresh count at main (the classic silent
    failure: a broken extractor that emits almost nothing still
    "succeeds"; legitimate mass deletion of those conversations should
    be published with the guard off or via a plain refresh).

    Returns ``{"published": True, ...}`` with the per-audit violation
    counts on green; ``{"published": False, "audits": ...}`` with the
    branch dropped (and the batch ledger re-opened, so a fixed extractor
    can re-merge the same src version) on red. A crashed prior attempt's
    leftover branch is dropped and restaged. If a concurrent writer
    advances main between stage and publish, ``fast_forward`` raises
    ConcurrentCommitError — retry the whole call on the new snapshot."""
    from pdf_parser_spark.sources.cowtable import (create_branch,
                                                   drop_branch,
                                                   fast_forward)
    src_v = read_manifest(src_dir)["version"]
    name = f"wap-{src_v}"
    if name in read_manifest(dst_dir).get("branches", {}):
        # a crashed prior attempt: its staging was never published, and
        # dropping it re-opens the batch ledger so this retry can merge
        drop_branch(dst_dir, name)
    create_branch(dst_dir, name)
    try:
        stats = refresh_extracted_table(spark, src_dir, dst_dir, cfg,
                                        strategy=strategy, branch=name,
                                        stamp=False,
                                        max_pruned_convs=max_pruned_convs)
    except BaseException:
        drop_branch(dst_dir, name)
        raise
    if stats.get("skipped"):
        drop_branch(dst_dir, name)
        if "changed_convs" in stats:  # caught up over no-data steps:
            _record_src_version(dst_dir, src_v)  # stamp what stamp=False
        return {**stats, "published": False}  # deferred; nothing staged

    head = read_manifest(dst_dir)["branches"][name]["head"]
    if stats["convs"] is None:
        # join-pruned refresh (huge delta): recompute the changed set
        # from the changelog — it stays a DataFrame end-to-end; the
        # audits then read the full branch snapshot semi-joined on it
        # (the same one-extra-scan trade the refresh itself made)
        changed_set = (table_changes(spark, src_dir,
                                     stats["from_version"], src_v)
                       .select("conv_id").distinct())

        def _changed_read(version=None):
            return (read_table(spark, dst_dir, version=version)
                    .join(changed_set, "conv_id", "left_semi"))
    else:
        def _changed_read(version=None):
            return _pruned_conv_read(spark, dst_dir, stats["convs"],
                                     version=version)
    staged = _changed_read(version=head)
    r = staged.agg(
        F.count("*").alias("__staged_rows"),
        (F.count("*") - F.count_distinct(F.col(CHUNK_KEY)))
        .alias("duplicate_chunk_key"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .alias("null_text"),
        F.sum(F.when(F.col("char_count").isNull()
                     | (F.col("char_count") < 0), 1).otherwise(0))
        .alias("bad_char_count")).collect()[0]
    results = {k: int(v) for k, v in r.asDict().items()}
    staged_rows = results.pop("__staged_rows")
    if min_chunk_ratio is not None:
        # main is untouched while the merge sits on the branch, so the
        # pre-refresh chunk count for these conversations is still
        # readable there (same pruned O(changed-files) read)
        old_rows = _changed_read().count()
        results["chunk_count_collapse"] = int(
            old_rows > 0 and staged_rows < min_chunk_ratio * old_rows)
    for aname, fn in (audits or {}).items():
        results[aname] = fn(staged).count()
    if any(results.values()):
        dropped = drop_branch(dst_dir, name)
        return {**stats, "published": False, "audits": results,
                "dropped_branch": dropped}
    pub = fast_forward(dst_dir, name, drop=True)
    _record_src_version(dst_dir, src_v)
    return {**stats, "published": True, "audits": results,
            "publish": pub}


# --- derived embeddings table (the second derivation hop) -------------------

def build_embedded_table(spark: SparkSession, chunks_dir: str,
                         emb_dir: str, store_dir: str, *,
                         dim: int = 32, n_files: int = 8) -> dict:
    """Initial embedding of the maintained chunk table at ``chunks_dir``
    into a chunk-keyed cow table of embedding results at ``emb_dir``,
    encoding through the content-addressed cache at ``store_dir``
    (operators/embedding.embed_incremental). Completes the lineage
    transcripts -> chunks -> embeddings, every hop incrementally
    maintainable. The reflected chunk-table version and the embedding
    config land in the creation commit."""
    from pdf_parser_spark.operators.embedding import embed_incremental

    src_v = read_manifest(chunks_dir)["version"]
    chunks = read_table(spark, chunks_dir, version=src_v)
    out, st = embed_incremental(chunks, store_dir, dim=dim)
    create_table(spark, out.repartitionByRange(n_files, CHUNK_KEY),
                 emb_dir, CHUNK_KEY,
                 extra={"src_version": src_v, "embed_dim": dim})
    return {"src_version": src_v, "created": True,
            "new_embeddings": st["new_embeddings"]}


def refresh_embedded_table(spark: SparkSession, chunks_dir: str,
                           emb_dir: str, store_dir: str,
                           strategy: str = "cow") -> dict:
    """Advance the embeddings table to reflect the chunk table's current
    version: the CHUNK CHANGELOG names exactly the chunk keys whose
    vectors need attention — upserted chunks re-embed THROUGH THE CACHE
    (unchanged content re-joins its existing vector; only genuinely new
    text reaches the encoder), chunk keys that vanished are deleted.
    The never-re-embed-the-world half of the derived-vector story: a
    CDC trickle costs O(changed chunks) join work plus O(new content)
    encoder work, never O(corpus)."""
    from pdf_parser_spark.operators.embedding import embed_incremental

    src_v = read_manifest(chunks_dir)["version"]
    emb_m = read_manifest(emb_dir)
    from_v = emb_m.get("src_version")
    if from_v is None:
        raise ValueError(f"{emb_dir} records no src_version — build it "
                         "with build_embedded_table first")
    dim = emb_m.get("embed_dim")
    if from_v >= src_v:
        return {"skipped": True, "src_version": src_v}

    # per-key NET state across the steps: the latest commit wins; within
    # one commit an update is delete+insert and 'insert' > 'delete'
    # sorts the insert first — one key-partitioned window
    from pyspark.sql.window import Window
    w = Window.partitionBy(CHUNK_KEY).orderBy(
        F.col("commit_version").desc(), F.col("change_type").desc())
    # the changelog diff (exceptAll over parquet reads) is the
    # expensive plan here and downstream actions re-execute their
    # lineage: cache the resolved per-key net state ONCE — the same
    # reason merge_into caches its change batch
    log = (table_changes(spark, chunks_dir, from_v, src_v)
           .withColumn("__rn", F.row_number().over(w))
           .where(F.col("__rn") == 1).drop("__rn")
           .cache())
    try:
        ins = (log.where(F.col("change_type") == "insert")
               .drop("change_type", "commit_version"))
        stale = (log.where(F.col("change_type") == "delete")
                 .select(CHUNK_KEY))
        if ins.limit(1).count() == 0 and stale.limit(1).count() == 0:
            _record_src_version(emb_dir, src_v)
            return {"skipped": True, "src_version": src_v,
                    "changed_chunks": 0}

        emb_ins, st = embed_incremental(ins, store_dir, dim=dim)
        # delete rows carry the key; every other column conforms to
        # NULL inside merge_into's schema cast
        emb_cols = [f.name
                    for f in read_table(spark, emb_dir).schema.fields]
        dele = stale.select(
            *[(F.col(CHUNK_KEY) if c == CHUNK_KEY
               else F.lit(None)).alias(c) for c in emb_cols])
        batch = (emb_ins.select(*emb_cols)
                 .withColumn("op", F.lit("upsert"))
                 .unionByName(dele.withColumn("op", F.lit("delete"))))
        stats = merge_into(spark, emb_dir, batch, batch_id=src_v,
                           strategy=strategy)
    finally:
        log.unpersist()
    _record_src_version(emb_dir, src_v)
    return {"src_version": src_v, "from_version": from_v,
            "new_embeddings": st["new_embeddings"], "merge": stats}


# --- maintained metrics table (incremental view maintenance of an agg) ------

def build_metrics_table(spark: SparkSession, chunks_dir: str,
                        metrics_dir: str, *, n_files: int = 4) -> dict:
    """Per-conversation extraction metrics (pipeline.extraction_metrics,
    the reference's summary sink — chunk_statistics,
    pdf_parser.py:338-345) as a conv-keyed cow table. A conversation's
    metrics row is a pure function of its chunk rows, so the aggregate
    is incrementally maintainable: the chunk changelog names exactly
    the conversations whose rows must be re-aggregated — classic
    incremental view maintenance, group-by-key flavor."""
    from pdf_parser_spark.pipeline import extraction_metrics
    src_v = read_manifest(chunks_dir)["version"]
    m = extraction_metrics(read_table(spark, chunks_dir, version=src_v))
    create_table(spark, m.repartitionByRange(n_files, "conv_id"),
                 metrics_dir, "conv_id", extra={"src_version": src_v})
    return {"src_version": src_v, "created": True}


def refresh_metrics_table(spark: SparkSession, chunks_dir: str,
                          metrics_dir: str,
                          strategy: str = "cow",
                          max_pruned_convs: int | None =
                          MAX_PRUNED_CONVS) -> dict:
    """Advance the metrics table to reflect the chunk table's current
    version by re-aggregating ONLY the conversations the chunk
    changelog names: their current chunk rows come out of a pruned
    O(changed-files) read, one map-side-combined groupBy rebuilds their
    rows, conversations whose every chunk vanished become deletes.
    O(changed conversations) per refresh, never O(corpus) — the
    summary sink stays current without a full re-aggregation."""
    from pdf_parser_spark.pipeline import extraction_metrics
    src_v = read_manifest(chunks_dir)["version"]
    dst_m = read_manifest(metrics_dir)
    from_v = dst_m.get("src_version")
    if from_v is None:
        raise ValueError(f"{metrics_dir} records no src_version — "
                         "build it with build_metrics_table first")
    if from_v >= src_v:
        return {"skipped": True, "src_version": src_v}
    changed = (table_changes(spark, chunks_dir, from_v, src_v)
               .select("conv_id").distinct())
    convs = _changed_conv_list(changed, max_pruned_convs)
    if convs is not None and not convs:
        _record_src_version(metrics_dir, src_v)
        return {"skipped": True, "src_version": src_v,
                "changed_convs": 0}
    if convs is None:
        # huge-delta fallback: join-based pruning, changed set stays
        # distributed (see refresh_extracted_table)
        changed = changed.cache()
        n_changed = changed.count()
        cur = (read_table(spark, chunks_dir, version=src_v)
               .join(changed, "conv_id", "left_semi"))
        convs_df = changed
    else:
        n_changed = len(convs)
        cur = _pruned_conv_read(spark, chunks_dir, convs, version=src_v)
        convs_df = local_frame(spark, [(c,) for c in convs], _CONV_SCHEMA)
    fresh = extraction_metrics(cur)
    # a changed conversation with NO surviving chunks has no fresh row:
    # its metrics row is stale and must go
    gone = convs_df.join(fresh.select("conv_id"), "conv_id",
                         "left_anti")
    cols = fresh.columns
    dele = gone.select(*[(F.col("conv_id") if c == "conv_id"
                          else F.lit(None)).alias(c) for c in cols])
    batch = (fresh.withColumn("op", F.lit("upsert"))
             .unionByName(dele.withColumn("op", F.lit("delete"))))
    try:
        stats = merge_into(spark, metrics_dir, batch, batch_id=src_v,
                           strategy=strategy)
    finally:
        if convs is None:
            changed.unpersist()
    _record_src_version(metrics_dir, src_v)
    return {"src_version": src_v, "from_version": from_v,
            "changed_convs": n_changed,
            "pruning": "join" if convs is None else "list",
            "merge": stats}


# --- maintained IVF index (the third derivation hop) ------------------------

def build_ivf_table(spark: SparkSession, emb_dir: str, ivf_dir: str, *,
                    n_cells: int = 16, cell_iters: int = 2,
                    n_files: int = 8, emb_col: str = "embedding",
                    pq_m: int | None = None, pq_k: int = 16,
                    pq_iters: int = 1) -> dict:
    """Initial IVF index over the maintained embeddings table: train
    deterministic coarse centroids, assign every valid vector, and lay
    the (chunk_key, ivf_cell, embedding) relation out CLUSTERED BY CELL
    with ``ivf_cell`` declared as a manifest stats column — probe
    queries then open only files whose cell bounds intersect the probe
    set (``cowtable.files_for_values``), the cow-table rendition of the
    partitioned-directory layout `write_ivf_partitioned` builds. The
    centroids live in the manifest: later refreshes assign with the
    SAME geometry (FAISS add-to-trained-index semantics; retrain =
    rebuild).

    ``pq_m``: also train residual PQ codebooks (quantize.pq_train over
    embedding - centroid[cell]) and store ``pq_codes`` per row — the
    MAINTAINED IVFADC index. The table then serves two probe paths:
    ``ivf_probe_topk`` (exact scan of probed cells) and
    ``ivfadc_probe_topk`` (ADC over 4+m bytes/row of the probed cells,
    exact rerank of overfetch*k — the scan-width economics of
    quantize.ivfpq_search on a CDC-maintained table). Codebooks live in
    the manifest beside the centroids; refreshes encode new vectors
    with the SAME codebooks (add-to-trained-index; retrain = rebuild)."""
    from pdf_parser_spark.operators.quantize import (_with_residual,
                                                     pq_encode, pq_train)
    from pdf_parser_spark.operators.similarity import ivf_assign, ivf_train

    src_v = read_manifest(emb_dir)["version"]
    valid = read_table(spark, emb_dir, version=src_v) \
        .where(F.size(F.col(emb_col)) > 0)
    centroids = ivf_train(valid, k=n_cells, iters=cell_iters,
                          emb_col=emb_col, id_col=CHUNK_KEY)
    extra = {"src_version": src_v, "ivf_centroids": centroids}
    if pq_m:
        resid = _with_residual(valid, centroids, emb_col)
        codebooks = pq_train(resid, m=pq_m, k=pq_k, iters=pq_iters,
                             emb_col="__resid", id_col=CHUNK_KEY,
                             salt="ivfpq")
        assigned = (pq_encode(resid, codebooks, emb_col="__resid")
                    .select(CHUNK_KEY, "ivf_cell", emb_col, "pq_codes"))
        extra["pq_codebooks"] = codebooks
    else:
        assigned = (ivf_assign(valid, centroids, emb_col)
                    .select(CHUNK_KEY, "ivf_cell", emb_col))
    assigned = (assigned.repartition(n_files, "ivf_cell")
                .sortWithinPartitions("ivf_cell"))
    create_table(spark, assigned, ivf_dir, CHUNK_KEY,
                 stats_cols=["ivf_cell"], extra=extra)
    return {"src_version": src_v, "created": True,
            "n_cells": len(centroids),
            **({"pq_m": pq_m} if pq_m else {})}


def refresh_ivf_table(spark: SparkSession, emb_dir: str, ivf_dir: str,
                      strategy: str = "cow") -> dict:
    """Advance the IVF index to the embeddings table's current version:
    the EMBEDDINGS CHANGELOG names exactly the chunk keys whose index
    rows need attention — upserted vectors assign to the STORED
    centroids and merge in, vanished keys delete. O(changed vectors)
    per refresh; centroid drift is the documented trade (rebuild to
    retrain, as FAISS does). Periodic ``compact_table(...,
    cluster_by=['ivf_cell'])`` restores tight cell bounds that merge
    commits gradually widen."""
    from pyspark.sql.window import Window

    from pdf_parser_spark.operators.similarity import ivf_assign

    src_v = read_manifest(emb_dir)["version"]
    ivf_m = read_manifest(ivf_dir)
    from_v = ivf_m.get("src_version")
    if from_v is None:
        raise ValueError(f"{ivf_dir} records no src_version — build it "
                         "with build_ivf_table first")
    if from_v >= src_v:
        return {"skipped": True, "src_version": src_v}
    centroids = ivf_m["ivf_centroids"]

    w = Window.partitionBy(CHUNK_KEY).orderBy(
        F.col("commit_version").desc(), F.col("change_type").desc())
    # cache the resolved net state: the changelog diff re-executes on
    # every downstream action otherwise (counts, assignment, merge)
    log = (table_changes(spark, emb_dir, from_v, src_v)
           .withColumn("__rn", F.row_number().over(w))
           .where(F.col("__rn") == 1).drop("__rn")
           .cache())
    try:
        ins = (log.where((F.col("change_type") == "insert")
                         & (F.size(F.col("embedding")) > 0)))
        # keys whose net state is delete OR whose new embedding is
        # invalid (error rows leave the index)
        gone = (log.select(CHUNK_KEY)
                .join(ins.select(CHUNK_KEY), CHUNK_KEY, "left_anti")
                .distinct())
        if ins.limit(1).count() == 0 and gone.limit(1).count() == 0:
            _record_src_version(ivf_dir, src_v)
            return {"skipped": True, "src_version": src_v}

        codebooks = ivf_m.get("pq_codebooks")
        if codebooks:
            # IVFADC refresh: encode the changed vectors' residuals
            # with the STORED codebooks (add-to-trained-index — the
            # same geometry every probe uses; retrain = rebuild)
            from pdf_parser_spark.operators.quantize import (
                _with_residual, pq_encode)
            resid = _with_residual(ins, centroids, "embedding")
            assigned = (pq_encode(resid, codebooks, emb_col="__resid")
                        .select(CHUNK_KEY, "ivf_cell", "embedding",
                                "pq_codes")
                        .withColumn("op", F.lit("upsert")))
        else:
            assigned = (ivf_assign(ins, centroids, "embedding")
                        .select(CHUNK_KEY, "ivf_cell", "embedding")
                        .withColumn("op", F.lit("upsert")))
        dele = gone.select(
            F.col(CHUNK_KEY),
            F.lit(None).cast("int").alias("ivf_cell"),
            F.lit(None).cast("array<float>").alias("embedding")) \
            .withColumn("op", F.lit("delete"))
        if codebooks:
            dele = dele.withColumn("pq_codes",
                                   F.lit(None).cast("array<int>"))
        stats = merge_into(spark, ivf_dir, assigned.unionByName(dele),
                           batch_id=src_v, strategy=strategy)
    finally:
        log.unpersist()
    _record_src_version(ivf_dir, src_v)
    return {"src_version": src_v, "from_version": from_v,
            "merge": stats}


def ivf_probe_topk(spark: SparkSession, ivf_dir: str,
                   query_vec: list[float], k: int = 10,
                   n_probe: int = 2, emb_col: str = "embedding"
                   ) -> DataFrame:
    """Approximate top-k over the MAINTAINED index: rank the manifest's
    centroids by query cosine driver-side, open only the files whose
    ``ivf_cell`` colstats intersect the probed cells, exact cosine
    within them. Same geometry as `similarity.ivf_topk` (shared
    rank_cells_by_query), so answers match the fresh-index path."""
    from pdf_parser_spark.operators.similarity import (brute_force_topk,
                                                       rank_cells_by_query)
    from pdf_parser_spark.sources.cowtable import read_for_values

    cents = read_manifest(ivf_dir)["ivf_centroids"]
    probe = rank_cells_by_query(cents, query_vec)[:n_probe]
    hits = read_for_values(spark, ivf_dir, "ivf_cell", probe)
    return brute_force_topk(hits, query_vec, k, emb_col, CHUNK_KEY)


def ivfadc_probe_topk(spark: SparkSession, ivf_dir: str,
                      query_vec: list[float], k: int = 10,
                      n_probe: int = 2, overfetch: int = 4,
                      emb_col: str = "embedding") -> DataFrame:
    """IVFADC over the MAINTAINED index (built with ``pq_m``): probed
    cells come from manifest colstats file pruning (unprobed cells are
    unopened files); candidate generation scans only (key, cell,
    pq_codes) — parquet column pruning keeps the wide embedding column
    unread at this stage, so the scan is 4+m bytes/row; exact L2
    reranks the overfetch*k survivors alone. Same contract and shared
    internals as quantize.ivfpq_search ((id, l2_dist, rank) ascending),
    so answers match the fresh-index path on identical geometry. Note
    the metric difference vs ivf_probe_topk (cosine): this is the
    ivfpq contract."""
    from pdf_parser_spark.operators.quantize import (_exact_rerank,
                                                     ivfpq_adc_topk)
    from pdf_parser_spark.operators.similarity import rank_cells_by_query
    from pdf_parser_spark.sources.cowtable import read_for_values

    m = read_manifest(ivf_dir)
    cents = m["ivf_centroids"]
    codebooks = m.get("pq_codebooks")
    if not codebooks:
        raise ValueError(f"{ivf_dir} holds no pq_codebooks — build with "
                         "build_ivf_table(..., pq_m=...) for ADC probes")
    probe = rank_cells_by_query(cents, query_vec)[:n_probe]
    hits = read_for_values(spark, ivf_dir, "ivf_cell", probe)
    cand = ivfpq_adc_topk(hits.select(CHUNK_KEY, "ivf_cell", "pq_codes"),
                          cents, codebooks, query_vec,
                          top_k=overfetch * k, n_probe=n_probe,
                          id_col=CHUNK_KEY)
    return _exact_rerank(hits.select(CHUNK_KEY, emb_col), cand,
                         query_vec, k, emb_col, CHUNK_KEY)


def make_lineage_refresher(src_dir: str, dst_dir: str,
                           emb_dir: str | None = None,
                           store_dir: str | None = None,
                           ivf_dir: str | None = None,
                           metrics_dir: str | None = None,
                           strategy: str = "cow",
                           wap: bool = False,
                           audits: dict | None = None,
                           min_chunk_ratio: float | None = None,
                           dedup_idx_dir: str | None = None,
                           dedup_gate_bands: int | None = None,
                           consistent_set_path: str | None = None):
    """An ``on_commit`` hook for ``streaming/cow_sink.merge_stream``
    that refreshes the WHOLE derivation lineage after every source
    micro-batch: chunks, then (if configured) embeddings through the
    content cache, then the IVF index. Each hop is ledgered under its
    upstream's version, so the hook is idempotent under foreachBatch
    replays — the retry path merge_stream documents. Returns the
    callable; per-hop stats accumulate on its ``.log`` attribute.

    ``wap=True`` routes the chunk hop through
    ``wap_refresh_extracted``: every micro-batch's re-extraction is
    audited on a branch before main moves, and a red audit QUARANTINES
    the batch — the chunk table (and therefore every downstream hop,
    which follows its changelog) simply does not advance, the stream
    keeps running, and the red entry on ``.log`` carries the violation
    counts. Because the drop re-opened the batch ledger, fixing the
    extractor and re-running the refresh lands the same source version.

    ``dedup_idx_dir``: a CDC-maintained MinHash-LSH index
    (sources/dedup_index.py) kept in lockstep — refreshed from the
    chunk changelog after every green chunk refresh. With
    ``dedup_gate_bands`` set (requires ``wap=True``), the index also
    GATES ingest: a ``near_dup`` audit quarantines any refresh whose
    staged chunks share >= that many LSH bands with an already-indexed
    chunk of a different conversation — duplicate content never
    publishes, and because the index only advances after publish, the
    gate always probes the exact pre-refresh corpus.

    ``consistent_set_path``: after each cycle that MOVED the chunk
    table (and therefore ran every configured downstream hop), record
    all maintained tables' versions as one consistent set
    (sources/consistent.py) — readers using ``consistent_reads`` get
    cross-table joins that line up even mid-cycle, and the set's tags
    keep the pinned snapshots vacuum-safe until expiry."""
    if (emb_dir is None) != (store_dir is None):
        raise ValueError("emb_dir and store_dir go together")
    if ivf_dir is not None and emb_dir is None:
        raise ValueError("ivf_dir needs emb_dir/store_dir")
    if (audits is not None or min_chunk_ratio is not None) and not wap:
        raise ValueError("audits/min_chunk_ratio only apply with "
                         "wap=True")
    if dedup_gate_bands is not None and not (wap and dedup_idx_dir):
        raise ValueError("dedup_gate_bands needs wap=True and "
                         "dedup_idx_dir")

    def refresh(spark: SparkSession, merge_stats: dict) -> None:
        from pdf_parser_spark.sources.dedup_index import (
            near_dup_audit, refresh_dedup_index)

        if wap:
            eff_audits = dict(audits or {})
            if dedup_gate_bands is not None:
                eff_audits["near_dup"] = near_dup_audit(
                    spark, dedup_idx_dir, min_bands=dedup_gate_bands)
            chunks = wap_refresh_extracted(spark, src_dir, dst_dir,
                                           strategy=strategy,
                                           audits=eff_audits,
                                           min_chunk_ratio=min_chunk_ratio)
        else:
            chunks = refresh_extracted_table(spark, src_dir, dst_dir,
                                             strategy=strategy)
        out = {"src": merge_stats.get("version"), "chunks": chunks}
        if wap and "audits" in chunks and not chunks["published"]:
            # red audit: the chunk table never moved, so the downstream
            # hops would no-op this trigger — record the quarantine
            refresh.log.append(out)
            return
        if dedup_idx_dir is not None:
            # unconditional: refresh_dedup_index no-ops when caught up,
            # and calling it even on a skipped chunk hop heals an index
            # a prior crash left lagging
            out["dedup_index"] = refresh_dedup_index(
                spark, dst_dir, dedup_idx_dir, strategy=strategy)
        if emb_dir is not None:
            out["embeddings"] = refresh_embedded_table(
                spark, dst_dir, emb_dir, store_dir, strategy=strategy)
        if ivf_dir is not None:
            out["ivf"] = refresh_ivf_table(spark, emb_dir, ivf_dir,
                                           strategy=strategy)
        if metrics_dir is not None:
            out["metrics"] = refresh_metrics_table(spark, dst_dir,
                                                   metrics_dir,
                                                   strategy=strategy)
        if consistent_set_path is not None \
                and not chunks.get("skipped"):
            from pdf_parser_spark.sources.consistent import (
                record_consistent_set)
            tables = {"transcripts": src_dir, "chunks": dst_dir}
            for name, d in (("embeddings", emb_dir), ("ivf", ivf_dir),
                            ("metrics", metrics_dir),
                            ("dedup_index", dedup_idx_dir)):
                if d is not None:
                    tables[name] = d
            out["consistent_set"] = record_consistent_set(
                consistent_set_path, tables,
                extra={"src_version": chunks.get("src_version")})
        refresh.log.append(out)

    refresh.log = []
    return refresh
