"""Retrieval-tier operators: the reference's query surface, Spark-first.

Maps SURVEY.md §2's query operators onto DataFrame primitives:
- F1/F2/F4 type & page filters -> ``filter``
- V3 cosine scan -> JVM cosine expression (operators/similarity.py)
- T1/T2 similarity sort + top-k + rank -> orderBy/limit (Spark plans
  TakeOrderedAndProject) + row_number
- J3 page-context expansion -> self equi-join on (conv_id, turn_idx) +
  left-anti join on id + 0.8x decay (reference gea_qa_agent.py:297-311)
- J4 context window -> row_number window + range predicate self-join
  (reference gea_qa_agent.py:399-426)
- U1/U2 priority union + id-dedup union (reference gea_qa_agent.py:284-295,
  gea_qa_agent_chroma.py:222-245)
- C4 md5 chunk ids, C5/C6 keyword scoring, C8 decay, C9 truncation
  (reference gea_qa_agent.py:109,332-352, gea_rag_agent_openai.py:174)

All scoring/filtering is JVM expressions; the only Python anywhere in the
retrieval path is the (stub) query-text embedder on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_parser_spark.operators.similarity import cosine


def with_chunk_id(chunks: DataFrame) -> DataFrame:
    """C4: chunk id = md5(f"{conv_id}_{chunk_idx}")[:16] — built-in md5
    matches hashlib (reference gea_qa_agent.py:109)."""
    return chunks.withColumn(
        "id", F.substring(
            F.md5(F.concat_ws("_", F.col("conv_id"),
                              F.col("chunk_idx").cast("string"))), 1, 16))


def score_by_query(chunks: DataFrame, query_vec: list[float],
                   emb_col: str = "embedding") -> DataFrame:
    """V3: cosine vs a broadcast-literal query vector, zero-norm -> 0.0."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return chunks.withColumn(
        "similarity", F.round(cosine(F.col(emb_col), q), 6))


def search_by_text(chunks: DataFrame, query_vec: list[float], top_k: int = 5,
                   chunk_types: list[str] | None = None) -> DataFrame:
    """T1+T2+F4: type filter, cosine sort desc, top-k, dense rank column."""
    scored = score_by_query(chunks, query_vec)
    if chunk_types:
        scored = scored.where(F.col("chunk_type").isin(chunk_types))
    ranked = (scored.orderBy(F.desc("similarity"), F.asc("conv_id"),
                             F.asc("chunk_idx"))
                    .limit(top_k)
                    .withColumn("rank", F.row_number().over(
                        Window.orderBy(F.desc("similarity"),
                                       F.asc("conv_id"),
                                       F.asc("chunk_idx")))))
    return ranked


def batch_search(corpus: DataFrame, queries: DataFrame, top_k: int = 5,
                 emb_col: str = "embedding", id_col: str = "id",
                 q_id_col: str = "q_id", q_emb_col: str = "q_emb",
                 ) -> DataFrame:
    """Top-k cosine for a BATCH of queries in one job.

    Shape: broadcast the query set against the corpus scan, score with the
    JVM cosine expression, rank per query with a window. One pass over the
    corpus serves every query — this is how Spark beats a resident index on
    throughput (BASELINE.md: 47 q/s vs the reference's ~7.7 q/s at its own
    corpus size) and the only shape that works when the corpus doesn't fit
    one machine. Queries must be broadcastable (thousands, not millions);
    BASELINE.md's ANN frontier records the two-sided sign-LSH bucket join
    measured for larger query sets.
    """
    w = Window.partitionBy(q_id_col).orderBy(F.desc("similarity"),
                                             F.asc(id_col))
    return (corpus.crossJoin(F.broadcast(queries))
            .withColumn("similarity",
                        F.round(cosine(F.col(emb_col), F.col(q_emb_col)), 6))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select(q_id_col, "rank", id_col, "similarity"))


def expand_page_context(results: DataFrame, chunks: DataFrame,
                        decay: float = 0.8, top_k: int = 5) -> DataFrame:
    """J3: for each hit, pull same-(conv, turn) chunks not already present
    at decay x similarity; U2 dedup; T3 re-sort + truncate."""
    hits = results.select("id", "conv_id", "turn_idx", "similarity")
    ctx = (chunks.alias("c")
           .join(hits.alias("h"),
                 (F.col("c.conv_id") == F.col("h.conv_id"))
                 & (F.col("c.turn_idx") == F.col("h.turn_idx")))
           .select(F.col("c.*"),
                   F.round(F.col("h.similarity") * decay, 6).alias("similarity"))
           .join(results.select("id"), "id", "left_anti"))
    common = [c for c in results.columns
              if c in set(chunks.columns) | {"similarity"}]
    merged = results.select(*common).unionByName(ctx.select(*common)) \
                    .dropDuplicates(["id"])
    return (merged.orderBy(F.desc("similarity"), F.asc("conv_id"),
                           F.asc("chunk_idx")).limit(top_k))


def image_priority_rerank(results: DataFrame, corpus: DataFrame,
                          top_k: int = 5, context_images: int = 3,
                          decay: float = 0.8) -> DataFrame:
    """The reference's image-reference search tail
    (gea_qa_agent.py:284-311) as one distributed composition:

    - U1 priority partition: image hits before other hits;
    - J3 page-context join: for the ``context_images`` best image hits,
      pull same-(conv, turn) non-image chunks from the WHOLE corpus (the
      loader's page scan in the reference), not already among the hits
      (U2 id-dedup), at ``decay`` x the image hit's similarity — a chunk
      near several image hits takes the best one (the reference's
      first-match-in-rank-order append has the same effect);
    - T3/T4: ordered truncate to ``top_k``.

    ``results``: the over-fetched ranked hits (id, conv_id, turn_idx,
    chunk_type, similarity). ``corpus``: all chunks (id, conv_id, turn_idx,
    chunk_type). Divergence from the reference, documented: within each
    priority class the output is ordered (similarity desc, id asc) — a
    total deterministic order — where the reference keeps context chunks
    in corpus-list append order (nondeterministic under distribution).
    """
    imgs = results.where(F.col("chunk_type") == "image")
    top_imgs = (imgs.orderBy(F.desc("similarity"), F.asc("id"))
                .limit(context_images)
                .select(F.col("conv_id").alias("h_conv"),
                        F.col("turn_idx").alias("h_turn"),
                        F.col("similarity").alias("h_sim")))
    ctx = (corpus.where(F.col("chunk_type") != "image").alias("c")
           .join(F.broadcast(top_imgs),
                 (F.col("c.conv_id") == F.col("h_conv"))
                 & (F.col("c.turn_idx") == F.col("h_turn")))
           .groupBy("c.id", "c.chunk_type")
           .agg(F.round(F.max("h_sim") * decay, 6).alias("similarity"))
           .join(F.broadcast(results.select("id")), "id", "left_anti")
           .withColumn("priority", F.lit(2)))
    base = results.withColumn(
        "priority", F.when(F.col("chunk_type") == "image", 0).otherwise(1))
    cols = ["id", "chunk_type", "priority", "similarity"]
    merged = base.select(*cols).unionByName(ctx.select(*cols))
    return (merged.orderBy("priority", F.desc("similarity"), F.asc("id"))
            .limit(top_k))


def search_by_image_reference(chunks: DataFrame, query_vec: list[float],
                              top_k: int = 5, context_images: int = 3,
                              decay: float = 0.8) -> DataFrame:
    """Reference search_by_image_reference (gea_qa_agent.py:263-313):
    embed-score the image description, over-fetch x2 top_k, then the
    priority/context composition (:func:`image_priority_rerank`).
    ``chunks`` must carry id + embedding (with_chunk_id + embed_chunks).

    The over-fetched hit set (2 x top_k rows) is materialized once: the
    rerank composition references it three times (image partition, base
    union, dedup anti-join), and leaving it lazy would re-run the whole
    corpus cosine scan per reference."""
    scored = search_by_text(chunks, query_vec, top_k=top_k * 2)
    hits = scored.collect()                        # <= 2*top_k tiny rows
    results = chunks.sparkSession.createDataFrame(hits, scored.schema)
    return image_priority_rerank(results, chunks, top_k=top_k,
                                 context_images=context_images, decay=decay)


def context_window(chunks: DataFrame, conv_id: str, chunk_idx: int,
                   window_size: int = 2) -> DataFrame:
    """J4: chunks of the same conversation within +-window_size positions."""
    return (chunks.where((F.col("conv_id") == conv_id)
                         & (F.col("chunk_idx") >= chunk_idx - window_size)
                         & (F.col("chunk_idx") <= chunk_idx + window_size))
            .orderBy("chunk_idx"))


def keyword_score(chunks: DataFrame, keywords: list[str],
                  content_w: float = 0.5, meta_w: float = 0.3,
                  source_w: float = 0.2) -> DataFrame:
    """C5/C6: additive keyword scoring — +content_w for a content hit,
    +meta_w for a type/metadata hit, +source_w for a source (conv_id) hit
    per keyword (reference gea_qa_agent.py:332-352 weights 0.5/0.3/0.2)."""
    score = F.lit(0.0)
    for kw in keywords:
        k = F.lit(kw.lower())
        score = score + \
            F.when(F.contains(F.lower(F.coalesce(F.col("text"), F.lit(""))), k),
                   F.lit(content_w)).otherwise(F.lit(0.0)) + \
            F.when(F.contains(F.lower(F.col("chunk_type")), k),
                   F.lit(meta_w)).otherwise(F.lit(0.0)) + \
            F.when(F.contains(F.lower(F.col("conv_id")), k),
                   F.lit(source_w)).otherwise(F.lit(0.0))
    return chunks.withColumn("keyword_score", F.round(score, 6))


def truncate_preview(col: Column, n: int) -> Column:
    """C9: content[:n] + '...' when longer (reference gea_qa_agent.py:580)."""
    return F.when(F.length(col) > n,
                  F.concat(F.substring(col, 1, n), F.lit("..."))) \
            .otherwise(col)


def answer_with_context(chunks: DataFrame, query_vec: list[float],
                        window_size: int = 2, max_chars: int = 1000,
                        ) -> DataFrame:
    """Reference get_answer_with_context (gea_qa_agent.py:533-590):
    top-1 chunk, same-conversation window around it, contents joined by
    single spaces in chunk order, truncated to max_chars + '...'.

    Distributed shape: top-1 via ordered take, window via a range self-join
    keyed on (conv_id) — no driver-side loop; returns a 1-row DataFrame."""
    top1 = search_by_text(chunks, query_vec, top_k=1) \
        .select(F.col("conv_id").alias("t_conv"),
                F.col("chunk_idx").alias("t_idx"), "similarity")
    ctx = (chunks.alias("c")
           .join(F.broadcast(top1),
                 (F.col("c.conv_id") == F.col("t_conv"))
                 & (F.col("c.chunk_idx") >= F.col("t_idx") - window_size)
                 & (F.col("c.chunk_idx") <= F.col("t_idx") + window_size)))
    joined = (ctx.groupBy("t_conv", "t_idx", "similarity")
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct(F.col("c.chunk_idx").alias("i"),
                                   F.col("c.text").alias("t")))),
                      lambda s: s["t"]), " ").alias("answer")))
    return joined.select(
        F.col("t_conv").alias("conv_id"), F.col("t_idx").alias("chunk_idx"),
        "similarity", truncate_preview(F.col("answer"), max_chars).alias("answer"))


def conversation_history(df: DataFrame, key_col: str, order_cols: list[str],
                         n: int = 10) -> DataFrame:
    """J5's data semantics: bounded per-conversation history — keep only
    the most recent ``n`` rows per key (the reference truncates its chat
    history to the last ``max_history`` turns before each LLM call,
    gea_rag_agent_openai.py:354-388; the LLM call itself stays out of
    scope). ``recency_rank`` 1 = newest; ties broken by the full
    ``order_cols`` list, so the kept set is deterministic. One
    key-partitioned window — Spark's WindowGroupLimit pushes the n-row
    cut below the shuffle."""
    w = Window.partitionBy(key_col).orderBy(
        *[F.desc(c) for c in order_cols])
    return (df.withColumn("recency_rank", F.row_number().over(w))
            .where(F.col("recency_rank") <= n))


def rrf_fuse(rankings: list[DataFrame], *, id_col: str = "doc_id",
             rank_col: str = "rank", k: int = 60,
             top_k: int = 10) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al., SIGIR 2009) — the
    standard hybrid-retrieval combiner: given N ranked lists (e.g. BM25
    lexical + embedding-cosine semantic), score(d) = sum over lists of
    1 / (k + rank_d), items absent from a list contributing nothing.
    Rank-based, so the lists' score scales never need calibrating —
    why RRF is the default fusion in production hybrid search.

    Returns (id_col, rrf_score, n_lists, rank) for the fused top_k,
    ties broken by id. Scale shape: each input is already a top-k list
    (tiny); the fusion is a union + one groupBy + TakeOrderedAndProject
    — driver-scale work no matter the corpus behind the lists.
    """
    if not rankings:
        raise ValueError("rankings must name at least one ranked list")
    parts = [r.select(F.col(id_col).alias("id"),
                      (1.0 / (k + F.col(rank_col))).alias("s"))
             for r in rankings]
    allparts = parts[0]
    for p in parts[1:]:
        allparts = allparts.unionByName(p)
    fused = (allparts.groupBy("id")
             .agg(F.round(F.sum("s"), 6).alias("rrf_score"),
                  F.count("*").cast("int").alias("n_lists")))
    order = [F.desc("rrf_score"), F.asc("id")]
    topk = fused.orderBy(*order).limit(top_k)
    return (topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int"))
        .select(F.col("id").alias(id_col), "rrf_score", "n_lists",
                "rank"))
