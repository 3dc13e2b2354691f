"""Stateful streaming extraction: exact batch semantics across micro-batches.

``streaming/incremental.stream_extract`` (the foreachBatch path) documents a
deliberate limitation: a conversation whose turns land in DIFFERENT files
gets per-batch chunk indices, because each micro-batch runs the batch
extraction pipeline in isolation. This module removes that limitation with
the Structured-Streaming-native formulation — ``applyInPandasWithState``
keyed by ``conv_id`` — so the stream's cumulative output is row-for-row
EQUAL to batch ``extract_chunks`` over the full input, no matter how turns
are split (or reordered) across micro-batches.

Why the state is tiny
---------------------
The per-turn decomposition theorem (core/merge.py docstring) means chunk
CONTENT never spans turns — each turn's chunks are a pure function of that
turn's text/tool. The only cross-turn coupling in the whole operator is
index assignment:

  chunk_idx   = running count of chunks emitted so far in the conversation
  block_indices offset = running sum of prior turns' block counts

so per-conversation state is just three counters plus an (almost always
empty) reorder buffer for turns that arrive before their predecessors:

  (next_turn_idx, next_chunk_idx, next_block_off, pending_json)

Turns are folded strictly in ``turn_idx`` order: an out-of-order arrival
waits in ``pending`` until the gap fills. This is what exactness REQUIRES —
emitting turn 5's chunks before turn 4 has landed would assign wrong
indices — and it is also the streaming analog of the batch window's
``orderBy(turn_idx)``. Contract: ``turn_idx`` is dense per conversation
(0..n-1), the same contract the synthetic corpus and the input_hint's
``(conv_id:string, turn_idx:int32)`` keying carry. A turn that never
arrives stalls ONLY its own conversation (state for it is a few bytes);
everything else flows — and the stall is OBSERVABLE, not silent:
``stall_metrics=True`` routes a per-(conversation, micro-batch)
diagnostic row (missing turn, buffered turns, pending bytes) to a side
table (see ``STALL_CHUNK_TYPE`` / ``split_stall_metrics``).

Scale shape: one shuffle per micro-batch on conv_id (the engine-wide
partitioning contract), state bounded by active conversations × ~40 bytes,
reorder buffer bounded by the landing pipeline's disorder window. At
production active-conversation counts (10^8+: tens of GB of state) run
the RocksDB state store provider —
``spark.sql.streaming.stateStore.providerClass`` — so per-batch state
maintenance is an incremental changelog, not a full in-memory map
snapshot; the operator is provider-agnostic, and PROVIDER-AGNOSTICISM IS
TESTED: the equality/restart/gap tests run under both the default
HDFS-backed store and RocksDBStateStoreProvider (both ship inside
Spark 4), and the measured per-group-touch overhead is the same under
both (~0.26-0.29 ms at 40k groups — the Arrow + state protocol
dominates, not the store; see BASELINE.md "State-store provider
comparison"). An
OPT-IN ProcessingTimeTimeout (``ttl_sec``; always-on deployments only —
see ``stateful_extract_stream`` on why availableNow drains must run
TTL-less) GCs conversations idle longer than ``ttl_sec``. The TTL is a
DATA-RETENTION BOUNDARY, not just state hygiene: once a conversation's
counters are GC'd, a turn of it arriving LATER can never be extracted —
a late turn_idx > 0 buffers against the reset counters (turn 0 never
re-arrives) and is itself dropped at the next timeout; emitting it would
assign indices batch extraction never would. Choose ``ttl_sec`` longer
than any conversation's possible lifetime; the cost of generosity is
~40 idle bytes per conversation.

Exactly-once: the file source + state store + parquet sink are all driven
by the ONE checkpoint, so a restart resumes the counters mid-conversation
— pinned by the restart test (tests/test_stream_stateful_extract.py).

Cleaning mode (``cfg.clean_boilerplate``) is conversation-GLOBAL (the
repeated-line miner reads every turn before any is extracted,
operators/boilerplate.py) and therefore cannot stream turn-by-turn;
requesting it here raises. Reference analog: the per-file sequential loop
(reference process_gea_pdfs.py:233-298) — which could never resume
mid-document at all.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from pdf_parser_spark.config import ExtractionConfig
from pdf_parser_spark.core.blocks import tokenize_turn_stats
from pdf_parser_spark.core.merge import merge_turn
from pdf_parser_spark.operators.merge import CHUNK_FIELDS, CHUNK_SCHEMA
from pdf_parser_spark.streaming.incremental import (landing_reader,
                                                    start_parquet_sink)

_CHUNK_COLS = [f.name for f in CHUNK_FIELDS]

# In-band stall-metric marker: a conversation whose turn_idx gap never
# fills buffers in `pending` forever (TTL-less drains) — documented as a
# contract violation, but previously INVISIBLE (silent state growth).
# With emit_stall_metrics on, every invocation that ends with a
# non-empty reorder buffer emits one diagnostic row through the SAME
# output stream (chunk_idx=-1, chunk_type=__gap_stall, turn_idx=the
# missing turn, block_count=#buffered turns, char_count=buffered bytes,
# block_indices=the buffered turn idxs), and split_stall_metrics /
# stream_extract_stateful(stall_metrics=True) route them to a side
# table. In-band is the only channel applyInPandasWithState offers
# (one output schema per query; accumulators are re-run-inflated
# counters, not gauges), and the sentinel chunk_idx=-1 cannot collide
# with real chunks (chunk_idx is 0-based by construction).
STALL_CHUNK_TYPE = "__gap_stall"

# The retention twin: when a conversation's state TTL fires while turns
# still sit in the reorder buffer, those DELIVERED turns are dropped by
# design (the documented retention boundary) — with emit_stall_metrics
# on, the timeout invocation emits one final diagnostic row (same
# sentinel shape, chunk_type=__ttl_drop) before the state is removed,
# so the drop is AUDITABLE instead of silent. The metrics side table's
# ``kind`` column distinguishes the two.
TTL_DROP_CHUNK_TYPE = "__ttl_drop"

_METRIC_TYPES = (STALL_CHUNK_TYPE, TTL_DROP_CHUNK_TYPE)

# (next_turn_idx, next_chunk_idx, next_block_off, pending_json)
STATE_SCHEMA = StructType([
    StructField("next_turn", LongType()),
    StructField("next_chunk", LongType()),
    StructField("next_off", LongType()),
    StructField("pending", StringType()),
])


def _fold_turn(conv_id: str, turn_idx: int, text, tool,
               cfg: ExtractionConfig, next_chunk: int, next_off: int,
               out: list[tuple]) -> tuple[int, int]:
    """Extract one turn and append its chunk rows with GLOBAL indices;
    returns the advanced (next_chunk, next_off). Mirrors
    operators/merge._turn_chunk_rows + chunks_from_local's stitch, with the
    window's running sums replaced by the carried counters."""
    blocks, _n_lines, _n_dropped = tokenize_turn_stats(
        int(turn_idx), text, tool, cfg, None)
    if blocks:
        for c in merge_turn(blocks, cfg):
            out.append((conv_id, next_chunk, int(turn_idx), c["chunk_type"],
                        c["text"], c["char_count"], c["block_count"],
                        [i + next_off for i in c["block_indices"]],
                        c["table_index"], c["image_index"], c["table_cells"]))
            next_chunk += 1
        next_off += len(blocks)
    return next_chunk, next_off


def make_stateful_extract_fn(cfg: ExtractionConfig, ttl_sec: int | None,
                             emit_stall_metrics: bool = False):
    if cfg.clean_boilerplate:
        raise ValueError(
            "clean_boilerplate is conversation-global (the repeated-line "
            "miner needs every turn); use the batch pipeline or the "
            "foreachBatch stream for cleaning mode")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (conv_id,) = key

        if state.hasTimedOut:
            # GC an idle conversation: counters (and any stalled pending
            # turns, deliberately — see module docstring) are dropped.
            # With metrics on, a non-empty buffer emits one final
            # __ttl_drop row first: delivered-but-never-folded turns
            # must be auditable, not silently discarded.
            if emit_stall_metrics and state.exists:
                next_turn, _nc, _no, pending_json = state.get
                pending = (json.loads(pending_json) if pending_json
                           else {})
                if pending:
                    dropped = sorted(int(k) for k in pending)
                    pending_bytes = sum(
                        len(t or "") + len(o or "")
                        for t, o in pending.values())
                    yield pd.DataFrame(
                        {c: [v] for c, v in zip(_CHUNK_COLS, (
                            conv_id, -1, int(next_turn),
                            TTL_DROP_CHUNK_TYPE, None, pending_bytes,
                            len(dropped), dropped, None, None, None))})
            state.remove()
            return

        if state.exists:
            next_turn, next_chunk, next_off, pending_json = state.get
            # "" encodes the (overwhelmingly common) empty reorder buffer
            pending = ({int(k): v for k, v in json.loads(pending_json).items()}
                       if pending_json else {})
        else:
            next_turn, next_chunk, next_off = 0, 0, 0
            pending = {}

        for pdf in pdfs:
            for t_idx, text, tool in zip(pdf["turn_idx"].tolist(),
                                         pdf["text"].tolist(),
                                         pdf["tool"].tolist()):
                t_idx = int(t_idx)
                # duplicate delivery (same turn landing twice): first wins,
                # and a turn already folded is ignored outright.
                if t_idx >= next_turn and t_idx not in pending:
                    pending[t_idx] = (None if text is None else str(text),
                                      None if tool is None else str(tool))

        rows: list[tuple] = []
        while next_turn in pending:
            text, tool = pending.pop(next_turn)
            next_chunk, next_off = _fold_turn(
                conv_id, next_turn, text, tool, cfg,
                next_chunk, next_off, rows)
            next_turn += 1

        state.update((next_turn, next_chunk, next_off,
                      json.dumps({str(k): list(v)
                                  for k, v in pending.items()})
                      if pending else ""))
        if ttl_sec is not None:
            state.setTimeoutDuration(ttl_sec * 1000)

        if emit_stall_metrics and pending:
            # the invocation ends gapped: next_turn is missing while
            # later turns sit buffered — emit one diagnostic row (see
            # STALL_CHUNK_TYPE). Bytes/turn-list are bounded by the
            # reorder window, not the conversation.
            pending_bytes = sum(len(t or "") + len(o or "")
                                for t, o in pending.values())
            rows.append((conv_id, -1, next_turn, STALL_CHUNK_TYPE, None,
                         pending_bytes, len(pending),
                         sorted(pending), None, None, None))

        if rows:
            # dict-of-lists beats list-of-tuples for frame construction at
            # the few-rows-per-conversation group sizes this fn sees
            yield pd.DataFrame(
                {c: [r[i] for r in rows]
                 for i, c in enumerate(_CHUNK_COLS)})

    return fn


def split_stall_metrics(df: DataFrame):
    """Split a stateful-extraction output into (chunks, stall_metrics).
    The metrics side is re-projected to its own schema: one row per
    (conversation, invocation) that ended gapped (``kind`` =
    ``__gap_stall``: ``missing_turn`` is the turn the fold is waiting
    on, ``buffered_turns`` the out-of-order turns held in state,
    ``pending_bytes`` their payload size) or whose TTL fired with turns
    still buffered (``kind`` = ``__ttl_drop``: the turns were DELIVERED
    but never folded — the retention boundary made auditable). The
    split keys on the chunk_idx<0 sentinel, which no real chunk can
    carry."""
    from pyspark.sql import functions as F
    chunks = df.where(F.col("chunk_idx") >= 0)
    stalls = (df.where(F.col("chunk_idx") < 0)
              .select(F.col("chunk_type").alias("kind"),
                      F.col("conv_id"),
                      F.col("turn_idx").alias("missing_turn"),
                      F.col("block_count").alias("n_buffered"),
                      F.col("char_count").alias("pending_bytes"),
                      F.col("block_indices").alias("buffered_turns")))
    return chunks, stalls


def stateful_extract_stream(transcripts: DataFrame,
                            cfg: ExtractionConfig = ExtractionConfig(),
                            ttl_sec: int | None = None,
                            emit_stall_metrics: bool = False) -> DataFrame:
    """streaming transcripts -> streaming extracted chunks (append mode).

    The cumulative output equals batch ``extract_chunks`` over the
    cumulative input whenever every conversation's turns eventually all
    arrive (any inter-/intra-batch split or reorder is fine).

    ``ttl_sec`` (state GC for idle conversations) is OPT-IN and meant for
    always-on deployments (continuous micro-batch trigger). Leave it None
    for ``availableNow`` drains: AvailableNow treats pending
    processing-time timers as available work and keeps scheduling empty
    micro-batches until they fire, so a drain with a TTL armed never
    terminates (observed: hundreds of empty batches). Counters are a few
    bytes per conversation, so running TTL-less between cron drains is
    the cheap and correct default.
    """
    timeout = (GroupStateTimeout.NoTimeout if ttl_sec is None
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (transcripts
            .groupBy("conv_id")
            .applyInPandasWithState(
                make_stateful_extract_fn(cfg, ttl_sec,
                                         emit_stall_metrics),
                outputStructType=CHUNK_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=timeout))


def stream_extract_stateful(spark: SparkSession, input_dir: str,
                            output_dir: str, checkpoint_dir: str,
                            cfg: ExtractionConfig = ExtractionConfig(),
                            max_files_per_trigger: int | None = None,
                            ttl_sec: int | None = None,
                            available_now: bool = True,
                            trigger_seconds: int | None = None,
                            stall_metrics: bool = False):
    """Landing-directory wiring of :func:`stateful_extract_stream`.

    Same contract as ``incremental.stream_extract`` (immutable landed
    files, checkpoint = resume state) MINUS its whole-conversations-per-file
    requirement: files may split or interleave conversations arbitrarily.
    ``available_now=False`` runs always-on, micro-batching every
    ``trigger_seconds`` (or as-fast-as-possible when None) — the mode a
    ``ttl_sec`` requires.

    ``stall_metrics=True`` makes gap-stalls OBSERVABLE: chunk rows land
    in ``{output_dir}/extracted`` exactly as before, and every
    (conversation, micro-batch) that ended waiting on a missing turn
    appends a diagnostic row to ``{output_dir}/stall_metrics``
    (missing_turn, n_buffered, pending_bytes, buffered_turns,
    micro_batch_id) — a dense-turn_idx contract violation then shows up
    as a conversation whose missing_turn stops advancing across
    batches, instead of silent state growth. The split runs in a
    foreachBatch sink; with it off the plain parquet sink is used and
    the stream is byte-identical to the pre-metrics behavior.

    The two modes cannot share an output directory: an ``extracted``
    dir the file sink wrote holds ``_spark_metadata``, and batch reads
    of it then list only the files that log names, silently skipping
    every file the foreachBatch sink appends. ``stall_metrics=True``
    therefore raises ``ValueError`` before the stream starts when that
    log exists.
    """
    if stall_metrics and os.path.exists(
            f"{output_dir}/extracted/_spark_metadata"):
        raise ValueError(
            f"{output_dir}/extracted was written by the file-sink mode "
            "(it holds _spark_metadata), so batch reads would skip the "
            "files stall_metrics=True appends; use a fresh output dir")
    # null-key gate before grouping (operators/merge._drop_null_keys twin)
    transcripts = landing_reader(spark, input_dir, max_files_per_trigger,
                                 drop_null_keys=True)
    chunks = stateful_extract_stream(transcripts, cfg, ttl_sec,
                                     emit_stall_metrics=stall_metrics)
    if not stall_metrics:
        return start_parquet_sink(chunks, output_dir, checkpoint_dir,
                                  available_now, trigger_seconds)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the split writes two sinks from one stateful plan
        batch_df.persist()
        try:
            out, stalls = split_stall_metrics(batch_df)
            (out.write.mode("append")
             .parquet(f"{output_dir}/extracted"))
            from pyspark.sql import functions as F
            (stalls.withColumn("micro_batch_id",
                               F.lit(int(batch_id)))
             .write.mode("append")
             .parquet(f"{output_dir}/stall_metrics"))
        finally:
            batch_df.unpersist()

    writer = (chunks.writeStream
              .foreachBatch(apply)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_extract_stateful_to_cow(spark: SparkSession, input_dir: str,
                                   table_dir: str, checkpoint_dir: str,
                                   cfg: ExtractionConfig = ExtractionConfig(),
                                   max_files_per_trigger: int | None = None,
                                   ttl_sec: int | None = None,
                                   available_now: bool = True,
                                   trigger_seconds: int | None = None):
    """Stateful extraction landing in the COPY-ON-WRITE TABLE instead of
    a bare parquet dir: every micro-batch is one ledgered
    ``append_rows`` commit, so the extracted table gains snapshots, time
    travel, tags/branches, fsck, and EXACTLY-ONCE appends (a replayed
    micro-batch after a crash-before-checkpoint is a ledger no-op —
    the same discipline as the CDC sink, streaming/cow_sink.py).

    The table is keyed ``chunk_key = conv_id#%06d`` (the maintained
    lineage's key, sources/maintain.py) and MUST exist before the first
    trigger — call :func:`init_extracted_cow` once. Creating it inside
    batch 0 would break exactly-once: a replay of batch 0 after a
    crash-post-create could not tell "already created by me" from
    "created by someone else", while a pre-created empty table lets
    every batch ride the ledger uniformly. Append (not merge) is
    correct because the operator's exactness contract makes every
    emitted chunk key NEW — re-deliveries are caught by the ledger, and
    the cow table's fsck key-uniqueness check would surface any breach.
    """
    from pdf_parser_spark.sources.cowtable import append_rows
    from pdf_parser_spark.sources.maintain import _with_chunk_key

    transcripts = landing_reader(spark, input_dir, max_files_per_trigger,
                                 drop_null_keys=True)
    chunks = stateful_extract_stream(transcripts, cfg, ttl_sec)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # persist before the emptiness probe: the probe and append_rows
        # are two actions, and without the cache each would recompute the
        # whole stateful plan (shuffle + state-store reads) — harmless
        # for state correctness (the store recommits the same version)
        # but double the per-batch work.
        batch_df.persist()
        try:
            rows = _with_chunk_key(batch_df)
            if rows.limit(1).count():
                append_rows(spark, table_dir, rows, batch_id=int(batch_id))
        finally:
            batch_df.unpersist()

    writer = (chunks.writeStream
              .foreachBatch(apply)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def init_extracted_cow(spark: SparkSession, table_dir: str) -> dict:
    """Create the empty chunk-keyed cow table
    :func:`stream_extract_stateful_to_cow` appends into (idempotent-by-
    refusal: an existing table raises, exactly like CREATE TABLE)."""
    from pdf_parser_spark.sources.cowtable import create_table
    from pdf_parser_spark.sources.maintain import CHUNK_KEY, \
        _with_chunk_key

    empty = _with_chunk_key(
        spark.createDataFrame([], CHUNK_SCHEMA))
    return create_table(spark, empty, table_dir, CHUNK_KEY)
