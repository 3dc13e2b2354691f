"""Distributed tokenize+merge: transcripts -> extracted chunks.

Two physical strategies for the same logical operator (both reuse the shared
pure-Python core, so their per-row semantics are identical by construction):

1. ``extract_chunks`` — the windowed path (default). Exploits the per-turn
   decomposition theorem (core/merge.py docstring): tokenize + merge run
   fused inside ONE ``mapInPandas`` — embarrassingly parallel, no grouping of
   raw text, no conversation ever materialized in one task. The only shuffle
   is a window over (conv_id) on the *chunk-level* rows (heavy ``text``
   payload included, but rows are already merged — far fewer and individually
   bounded by max_chars). Skewed million-turn conversations cost the window
   a sequential index scan, not memory: Spark's window over rows-unbounded-
   preceding running sum streams within a sorted partition. At 10^12 turns:
   map stage scales linearly with input splits; window shuffle moves only
   extracted chunks.

2. ``extract_chunks_bucketed`` — the window-free path for conversation-
   complete partitions (a table bucketed by conv_id and written sorted by
   (conv_id, turn_idx)): a pure map job that runs the oracle's
   per-conversation routine in-task. ``extract_chunks_auto`` chooses
   between the two.

tests/test_spark_equality.py holds a third, independently-routed
rendition (``groupBy(conv_id).applyInPandas``, mirroring the reference's
per-document loop, reference pdf_parser.py:311-347) as a cross-check of
the windowed path.

Output schema (the ``extracted`` table):
  conv_id string, chunk_idx long, turn_idx int, chunk_type string,
  text string, char_count long, block_count int, block_indices array<long>,
  table_index int, image_index int, table_cells array<array<string>>
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from pdf_parser_spark.config import ExtractionConfig
from pdf_parser_spark.core.blocks import tokenize_turn_stats
from pdf_parser_spark.core.merge import merge_turn
from pdf_parser_spark.operators.boilerplate import REPEATED_COL, with_repeated_lines

CHUNK_FIELDS = [
    StructField("conv_id", StringType()),
    StructField("chunk_idx", LongType()),
    StructField("turn_idx", IntegerType()),
    StructField("chunk_type", StringType()),
    StructField("text", StringType()),
    StructField("char_count", LongType()),
    StructField("block_count", IntegerType()),
    StructField("block_indices", ArrayType(LongType())),
    StructField("table_index", IntegerType()),
    StructField("image_index", IntegerType()),
    StructField("table_cells", ArrayType(ArrayType(StringType()))),
]

CHUNK_SCHEMA = StructType(CHUNK_FIELDS)

# intermediate schema of the map-only stage: turn-local indices + per-turn
# tokenizer stats (block and line counters ride along so cleaning metrics
# never need a second tokenize pass)
_LOCAL_SCHEMA = StructType(
    [StructField("conv_id", StringType()),
     StructField("turn_idx", IntegerType()),
     StructField("local_chunk_idx", IntegerType()),
     StructField("chunk_type", StringType()),
     StructField("text", StringType()),
     StructField("char_count", LongType()),
     StructField("block_count", IntegerType()),
     StructField("local_block_indices", ArrayType(LongType())),
     StructField("table_index", IntegerType()),
     StructField("image_index", IntegerType()),
     StructField("table_cells", ArrayType(ArrayType(StringType()))),
     StructField("n_blocks", IntegerType()),
     StructField("n_lines", IntegerType()),
     StructField("n_lines_dropped", IntegerType())])


def _drop_null_keys(transcripts: DataFrame) -> DataFrame:
    """Data-quality gate: rows with a null key cannot be ordered or grouped
    (the oracle applies the same rule — core/oracle.py). At 10^12 rows a
    single dirty row must degrade to a dropped row, not a dead job; the
    filter is pushed into the scan by Catalyst."""
    return transcripts.where(F.col("conv_id").isNotNull()
                             & F.col("turn_idx").isNotNull())


def _as_repeated(rv) -> frozenset[str] | None:
    # null array columns can surface from Arrow as None or NaN
    if rv is None or isinstance(rv, float):
        return None
    return frozenset(rv)


def _turn_chunk_rows(conv_id: str, turn_idx: int, text, tool, repeated,
                     cfg: ExtractionConfig) -> list[tuple]:
    blocks, n_lines, n_dropped = tokenize_turn_stats(
        int(turn_idx), text, tool, cfg, repeated)
    rows = []
    for local_idx, c in enumerate(merge_turn(blocks, cfg) if blocks else ()):
        rows.append((conv_id, int(turn_idx), local_idx, c["chunk_type"],
                     c["text"], c["char_count"], c["block_count"],
                     c["block_indices"], c["table_index"], c["image_index"],
                     c["table_cells"], len(blocks), n_lines, n_dropped))
    if not rows:
        # sentinel: a zero-block turn still carries its tokenizer stats
        # (chunk_type NULL marks it; filtered out of the chunk output).
        # Safe for block-offset accounting because a non-empty block list
        # always yields >=1 chunk, so sentinels always have n_blocks == 0.
        rows.append((conv_id, int(turn_idx), 0, None, None, None, None,
                     None, None, None, None, 0, n_lines, n_dropped))
    return rows


def _make_map_fn(cfg: ExtractionConfig, use_repeated: bool):
    cols = [f.name for f in _LOCAL_SCHEMA.fields]

    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            # column-to-list up front: per-row .iloc costs ~10x the actual
            # merge work at this batch size
            reps = (pdf[REPEATED_COL].tolist() if use_repeated
                    else [None] * len(pdf))
            for conv_id, turn_idx, text, tool, rep in zip(
                    pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(),
                    pdf["text"].tolist(), pdf["tool"].tolist(), reps):
                out.extend(_turn_chunk_rows(
                    conv_id, turn_idx, text, tool,
                    _as_repeated(rep) if use_repeated else None, cfg))
            yield pd.DataFrame(out, columns=cols)

    return map_fn


def tokenized_local(transcripts: DataFrame,
                    cfg: ExtractionConfig = ExtractionConfig()) -> DataFrame:
    """The fused map-only tokenize+merge stage: one row per turn-local
    chunk (plus a NULL-chunk_type sentinel for zero-block turns), carrying
    per-turn tokenizer stats. Shared by :func:`chunks_from_local` and
    :func:`tokenize_stats` so one pass feeds both the extracted table and
    the cleaning metrics — persist it when consuming both."""
    src = with_repeated_lines(_drop_null_keys(transcripts), cfg)
    return src.select("conv_id", "turn_idx", "text", "tool", REPEATED_COL) \
              .mapInPandas(_make_map_fn(cfg, use_repeated=True), _LOCAL_SCHEMA)


def chunks_from_local(local: DataFrame) -> DataFrame:
    """Global index assignment (the "stitch") over the fused map output:
    within (conv_id) ordered by (turn_idx, local_chunk_idx),
      chunk_idx   = row_number() - 1
      block_off   = running sum of n_blocks over turns up to AND INCLUDING
                    the current turn (counted once per turn via the
                    local_chunk_idx == 0 row, RANGE frame groups the whole
                    turn) minus the current turn's n_blocks
      block_indices = local + block_off
    Sentinel rows are dropped first (they always carry n_blocks == 0, so
    the offsets are unaffected)."""
    rows = local.where(F.col("chunk_type").isNotNull())

    w_rows = Window.partitionBy("conv_id").orderBy("turn_idx", "local_chunk_idx")
    w_turns = (Window.partitionBy("conv_id").orderBy("turn_idx")
               .rangeBetween(Window.unboundedPreceding, Window.currentRow))

    counted_once = F.when(F.col("local_chunk_idx") == 0,
                          F.col("n_blocks")).otherwise(F.lit(0))
    block_off = (F.sum(counted_once).over(w_turns) - F.col("n_blocks")) \
        .cast("long")

    return (rows
            .withColumn("chunk_idx", (F.row_number().over(w_rows) - 1).cast("long"))
            .withColumn("__block_off", block_off)
            .withColumn("block_indices",
                        F.transform("local_block_indices",
                                    lambda x: x + F.col("__block_off")))
            .select(*[f.name for f in CHUNK_FIELDS]))


def tokenize_stats(local: DataFrame) -> DataFrame:
    """Per-conversation cleaning metrics from the fused map output (no
    second tokenize pass): one row per turn is the local_chunk_idx == 0
    row (first chunk or sentinel)."""
    per_turn = local.where(F.col("local_chunk_idx") == 0)
    return per_turn.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum("n_blocks").alias("blocks_kept"),
        F.sum("n_lines").alias("lines_total"),
        F.sum("n_lines_dropped").alias("lines_dropped"))


def extract_chunks(transcripts: DataFrame,
                   cfg: ExtractionConfig = ExtractionConfig()) -> DataFrame:
    """Scale path: fused map-only tokenize+merge, then one narrow window
    (see :func:`chunks_from_local` for the index-assignment math)."""
    return chunks_from_local(tokenized_local(transcripts, cfg))


def cluster_by_conversation(transcripts: DataFrame,
                            n_partitions: int) -> DataFrame:
    """Shuffle generic input into the bucketed-path layout: conv-complete
    partitions with conversations contiguous and turns sorted. On a real
    deployment this layout comes FREE from the Iceberg table's
    ``bucket(N, conv_id)`` partition spec + (conv_id, turn_idx) write order;
    this helper exists for generic/unbucketed input and for tests."""
    return (transcripts.repartition(n_partitions, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx"))


def extract_chunks_bucketed(transcripts: DataFrame,
                            cfg: ExtractionConfig = ExtractionConfig(),
                            ) -> DataFrame:
    """Window-free scale path for conversation-complete partitions.

    CONTRACT: every input partition holds whole conversations, contiguously
    (turn order within a conversation may be arbitrary — sorted in-task).
    That is exactly the scan layout of an Iceberg/parquet table bucketed by
    ``bucket(N, conv_id)`` and written sorted by (conv_id, turn_idx); use
    :func:`cluster_by_conversation` to impose it on generic input. Beware
    that a DIRECT parquet read only satisfies it when each file holds one
    row group (Spark splits multi-row-group files by byte range, cutting
    conversations mid-file); a cheap in-task guard raises on any
    non-contiguous conversation rather than emitting silently-duplicated
    chunk indices.

    Under the contract this is a PURE MAP job — no shuffle at all: global
    chunk indices, block-index offsets AND per-conversation boilerplate
    mining (which is conversation-local by definition) all happen inside the
    task via the oracle's own per-conversation routine, so output equality
    with the windowed path is by construction. At 10^12 turns this is the
    fastest shape the job can take: wall time = input splits / cores, and
    zipf skew costs only conversation-granularity imbalance within a task.
    """
    from pdf_parser_spark.core.oracle import extract_conversation

    cols = [f.name for f in CHUNK_FIELDS]

    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: list[dict] = []
        flushed: set = set()   # contract guard: conv_ids already emitted

        def flush() -> list[tuple]:
            rows = extract_conversation(pending, cfg)
            return [tuple(r[c] for c in cols) for r in rows]

        for pdf in batches:
            out: list[tuple] = []
            for conv_id, turn_idx, text, tool in zip(
                    pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(),
                    pdf["text"].tolist(), pdf["tool"].tolist()):
                if pending and conv_id != pending[-1]["conv_id"]:
                    flushed.add(pending[-1]["conv_id"])
                    out.extend(flush())
                    pending = []
                if conv_id in flushed:
                    # a flushed conversation reappearing means this
                    # partition is NOT conversation-contiguous (e.g. a
                    # multi-row-group file split by byte ranges, or
                    # unsorted input) — silent duplicate chunk indices
                    # would follow; fail loudly instead. Use
                    # cluster_by_conversation (or one row group per file)
                    # to impose the layout.
                    raise ValueError(
                        "extract_chunks_bucketed: conversation "
                        f"{conv_id!r} is split across non-contiguous rows "
                        "of a partition; input violates the "
                        "conversation-complete contract")
                pending.append({"conv_id": conv_id, "turn_idx": int(turn_idx),
                                "text": text, "tool": tool})
            yield pd.DataFrame(out, columns=cols)
        if pending:
            yield pd.DataFrame(flush(), columns=cols)

    return (_drop_null_keys(transcripts)
            .select("conv_id", "turn_idx", "text", "tool")
            .mapInPandas(map_fn, CHUNK_SCHEMA))


def choose_extraction_route(transcripts: DataFrame, *,
                            n_partitions: int | None = None,
                            max_share: float = 0.2) -> str:
    """'bucketed' or 'windowed', from ONE cheap skew pre-scan.

    The bucketed path is the fastest shape (pure map, zero shuffle) but
    pays conversation-granularity imbalance: a conversation is never
    split across tasks, so its worst case is the heaviest conversation's
    share of a fair per-task slice — measured ~9 % throughput loss at
    256x conversation-length skew (BASELINE.md). The windowed path
    spreads every conversation's turns across input splits (turns
    tokenize independently; only the chunk-index window sees
    conversation boundaries) and measured zero loss under the same skew.

    Decision: let ``share = max_conv_chars * n_partitions /
    total_chars`` — how many fair task-slices the heaviest single
    conversation fills. Above ``max_share`` a straggler task is already
    20 % longer than fair before any other imbalance stacks on it →
    windowed; otherwise bucketed. The pre-scan is one map-side-combined
    aggregation over (conv_id, char lengths) — column-pruned, no text
    moves — and its result can be reused from a previous run's lineage
    (wall shares) instead; this function is the cold-start rendition.
    """
    spark = transcripts.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    cost = (F.length(F.coalesce(F.col("text"), F.lit("")))
            + F.length(F.coalesce(F.col("tool"), F.lit(""))))
    row = (transcripts.groupBy("conv_id")
           .agg(F.sum(cost).alias("chars"))
           .agg(F.max("chars").alias("mx"),
                F.sum("chars").alias("tot")).collect()[0])
    if not row.tot:
        return "bucketed"
    return "windowed" if row.mx * n / row.tot > max_share else "bucketed"


def extract_chunks_auto(transcripts: DataFrame,
                        cfg: ExtractionConfig = ExtractionConfig(), *,
                        conversation_complete: bool = False,
                        n_partitions: int | None = None,
                        max_share: float = 0.2,
                        route: str | None = None) -> DataFrame:
    """Skew-routed extraction: measure, then take the layout the data
    deserves (VERDICT r3 #9 — a router instead of a flag). Output is
    identical on every route (equality pinned in test_spark_equality);
    the chosen route is recorded on the RETURNED HANDLE as
    ``extraction_route`` — a plain Python attribute (the owned_storage
    convention), which does NOT survive further transformations
    (``out.where(...).extraction_route`` raises). Callers that need the
    route downstream should read it off this handle immediately, or call
    :func:`choose_extraction_route` themselves — it is public precisely
    for that.

    Routing policy, from measurement (BASELINE.md r4):

    - **generic input** (``conversation_complete=False``): always
      windowed. The bucketed path would first have to cluster the RAW
      text by conv_id (:func:`cluster_by_conversation`) — a full-input
      shuffle — while the windowed path's only exchange moves the
      fused-map CHUNK rows, strictly fewer bytes. Measured on the 591k-
      turn bench corpus: windowed 3.4 s vs cluster-then-bucketed 3.9 s.
    - **conversation-complete input** (an Iceberg table bucketed by
      conv_id and written sorted — the production layout): bucketed
      (pure map, zero shuffle, the fastest shape) unless the skew
      pre-scan finds a conversation heavier than ``max_share`` of a
      fair per-task slice, where conversation-granularity imbalance
      costs more than the windowed path's one narrow exchange
      (measured ~9 % at 256x skew) → windowed.
    """
    spark = transcripts.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    if route is None:
        if not conversation_complete:
            route = "windowed"
        else:
            route = choose_extraction_route(
                transcripts, n_partitions=n, max_share=max_share)
    if route == "windowed":
        out = extract_chunks(transcripts, cfg)
    elif route == "bucketed":
        out = extract_chunks_bucketed(
            transcripts if conversation_complete
            else cluster_by_conversation(transcripts, n), cfg)
    else:
        raise ValueError(f"unknown route {route!r} "
                         f"(expected 'windowed' or 'bucketed')")
    out.extraction_route = route
    return out

