"""End-to-end extraction pipeline + per-conversation metrics.

Graft of the reference's batch driver (reference process_gea_pdfs.py:233-298)
and its statistics wrappers (pdf_parser.py:311-347, :169-230) — minus the
sequential per-file loop and the 1-second sleeps: discovery is a table scan,
the loop is the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.config import ExtractionConfig
from pdf_parser_spark.operators.merge import extract_chunks

TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def read_transcripts(spark, path: str) -> DataFrame:
    """Scan the transcripts table.

    Parquet in this sandbox; on a production cluster this is
    ``spark.read.table("catalog.db.transcripts")`` over an Iceberg table
    partitioned by ``bucket(N, conv_id)`` so the chunk-index window and the
    boilerplate join are co-located with storage partitioning (no re-shuffle
    of raw text). Catalyst pushes column pruning + predicates into the scan.
    """
    return spark.read.parquet(path)


def extract(transcripts: DataFrame,
            cfg: ExtractionConfig = ExtractionConfig()) -> DataFrame:
    """transcripts -> extracted chunks (scale path)."""
    return extract_chunks(transcripts, cfg)


def extraction_metrics(chunks: DataFrame) -> DataFrame:
    """Per-conversation extraction metrics.

    Mirrors the reference's ``chunk_statistics``
    (reference pdf_parser.py:338-345): per-type chunk counts, total chars,
    avg chars/chunk (0 when empty — the reference's ``if chunks else 0``
    guard becomes ``coalesce``). Single partial-aggregated groupBy; at scale
    this is a map-side-combined shuffle on conv_id.
    """
    return (chunks.groupBy("conv_id").agg(
        F.count("*").alias("total_chunks"),
        F.sum(F.when(F.col("chunk_type") == "text", 1).otherwise(0)).alias("text_chunks"),
        F.sum(F.when(F.col("chunk_type") == "table", 1).otherwise(0)).alias("table_chunks"),
        F.sum(F.when(F.col("chunk_type") == "image", 1).otherwise(0)).alias("image_chunks"),
        F.sum("char_count").alias("total_chars"),
        F.coalesce(F.avg("char_count"), F.lit(0.0)).alias("avg_chars_per_chunk"),
    ))


def extract_with_embeddings(transcripts: DataFrame,
                            cfg: ExtractionConfig = ExtractionConfig(),
                            dim: int = 64) -> tuple[DataFrame, DataFrame]:
    """The reference's full per-document flow (process_pdf_with_embeddings,
    reference pdf_parser.py:350-440) as one composition: extract ->
    embed every chunk (iterator pandas UDF) -> per-conversation metrics.
    Returns (embedded_chunks, metrics). Metrics carry the reference's
    embedding success/failure accounting (pdf_parser.py:411-419) alongside
    chunk/cleaning stats; the tokenize pass is shared between chunks and
    metrics (persisted fused map output, evaluated once)."""
    from pdf_parser_spark.operators.embedding import (embed_chunks,
                                                      embedding_metrics)
    from pdf_parser_spark.operators.merge import chunks_from_local, tokenized_local

    # NB: the fused map output stays cached until the session ends (both
    # returned DataFrames are lazy, so there is no safe unpersist point
    # inside this function); a long-running driver that calls this in a
    # loop should local.unpersist() via its own handle or clearCache()
    # between batches — the checkpointed path (sources/lineage) does.
    local = tokenized_local(transcripts, cfg).persist()
    chunks = chunks_from_local(local)
    embedded = embed_chunks(chunks, dim=dim)
    emb_stats = embedding_metrics(embedded)
    metrics = (full_metrics(transcripts, chunks, cfg, local=local)
               .join(emb_stats, "conv_id", "full")
               # zero-chunk conversations have no embedding rows; the
               # reference reports 0/0 for them (pdf_parser.py:411-419)
               .withColumn("successful_embeddings",
                           F.coalesce("successful_embeddings", F.lit(0)))
               .withColumn("failed_embeddings",
                           F.coalesce("failed_embeddings", F.lit(0))))
    return embedded, metrics


def cleaning_metrics(transcripts: DataFrame,
                     cfg: ExtractionConfig = ExtractionConfig()) -> DataFrame:
    """Per-conversation tokenizer/cleaning metrics: blocks kept, lines
    dropped (north rule: "extraction metrics (blocks kept/dropped, chunk
    counts)").

    Derived from the SAME fused tokenize+merge map the extraction uses
    (operators/merge.tokenized_local) — per-turn counters ride along on the
    chunk rows, so metrics never cost a second tokenize pass, and the
    shared null-key gate applies (a dirty row is dropped, not fatal).
    ``lines_dropped`` counts boilerplate-stripped lines (repeated
    header/footer, link-heavy, low-density); in parity mode
    (clean_boilerplate=False) it is 0 by construction.
    """
    from pdf_parser_spark.operators.merge import tokenize_stats, tokenized_local

    return tokenize_stats(tokenized_local(transcripts, cfg))


def full_metrics(transcripts: DataFrame, chunks: DataFrame,
                 cfg: ExtractionConfig = ExtractionConfig(),
                 local: DataFrame | None = None) -> DataFrame:
    """The complete metrics table: chunk stats + blocks kept / lines
    dropped, one row per conversation. Pass the (persisted) fused map
    output as ``local`` to reuse the extraction's own tokenize pass."""
    from pdf_parser_spark.operators.merge import tokenize_stats

    stats = (tokenize_stats(local) if local is not None
             else cleaning_metrics(transcripts, cfg))
    return extraction_metrics(chunks).join(stats, "conv_id", "full")

