"""Int8 embedding quantization for the similarity tier.

At 100 TB the embedding column dominates scan bytes (a 768-d float32
vector is 3 KB/row); symmetric per-vector int8 quantization cuts that 4x
— the difference between an I/O-bound and a CPU-bound similarity scan —
at <1 % top-k disturbance for cosine (scales cancel: see
:func:`quantized_cosine`). The reference never compresses its vectors
(its whole corpus is ~500 MB in-process, reference
CHROMA_MIGRATION_GUIDE.md:96); this is a training-pipeline extension the
task brief's scale target requires.

Everything is exactly recomputable in DuckDB (oracle entry
``emb_quantized_topk``): quantization uses half-away-from-zero rounding
written as ``trunc(x/scale + copysign(0.5, x))`` so numpy (which would
default to banker's rounding via ``np.round``) and SQL ``round()``
agree bit-for-bit.

Quantization runs in ONE Arrow-batched pandas pass (per-row scale +
rounded array). A JVM-expression rendition would reference the
``array_max`` scale inside the per-element ``transform`` lambda and
Catalyst's projection collapse re-inlines it per element (the PLANS.md
§8 trap — O(dim^2) per row); the batched numpy form is O(dim).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_py(vec: list[float]) -> tuple[list[int], float]:
    """(int8 values, scale) — the scalar oracle twin of the UDF.

    scale = max|x| / 127; q_i = trunc(x_i/scale + copysign(0.5, x_i))
    (half away from zero, matching SQL ``round``). All-zero vectors get
    scale 0 and an all-zero q.
    """
    import math
    m = max((abs(float(x)) for x in vec), default=0.0)
    scale = m / 127.0
    if scale == 0.0:
        return [0] * len(vec), 0.0
    return [int(math.trunc(float(x) / scale + math.copysign(0.5, float(x))))
            for x in vec], scale


def _quantize_udf():
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)

    out_t = StructType([StructField("q", ArrayType(IntegerType())),
                        StructField("scale", DoubleType())])

    def quant(batch):  # pd.Series of array<float> -> pd.DataFrame
        qs, ss = [], []
        for v in batch:
            x = np.asarray(v, dtype=np.float64)
            m = float(np.max(np.abs(x))) if x.size else 0.0
            s = m / 127.0
            if s == 0.0:
                qs.append([0] * len(x))
            else:
                qs.append(np.trunc(x / s + np.copysign(0.5, x))
                          .astype(np.int32).tolist())
            ss.append(s)
        return pd.DataFrame({"q": qs, "scale": ss})

    return pandas_udf(quant, out_t)


def quantize_embeddings(df: DataFrame, emb_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """(id, q: array<int> in [-127, 127], q_scale: double)."""
    udf = _quantize_udf()
    qs = df.select(F.col(id_col).alias(id_col),
                   udf(F.col(emb_col)).alias("_qs"))
    return qs.select(id_col, F.col("_qs.q").alias("q"),
                     F.col("_qs.scale").alias("q_scale"))


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over two int8 arrays — the per-vector scales CANCEL
    (cos = s_a*s_b*Σqa·qb / (s_a|qa| * s_b|qb|)), so scoring needs only
    the integer arrays: an integer dot product in whole-stage codegen,
    no float decode of the stored column at all."""
    d = F.aggregate(F.zip_with(qa, qb, lambda x, y: (x * y).cast("long")),
                    F.lit(0).cast("long"), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(qa, F.lit(0).cast("long"),
                            lambda acc, v: acc + (v * v).cast("long"))
                .cast("double"))
    nb = F.sqrt(F.aggregate(qb, F.lit(0).cast("long"),
                            lambda acc, v: acc + (v * v).cast("long"))
                .cast("double"))
    return F.when(na * nb > 0, d.cast("double") / (na * nb)) \
            .otherwise(F.lit(0.0))


def quantized_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                   emb_col: str = "embedding", id_col: str = "vec_id",
                   ) -> DataFrame:
    """Exact top-k over the QUANTIZED representation: quantize the corpus
    (one Arrow pass; in production the table stores q/q_scale and the
    scan reads 1/4 the bytes), quantize the query with the same formula,
    integer-dot cosine, TakeOrderedAndProject."""
    qv, _ = quantize_py([float(x) for x in query_vec])
    qc = F.array(*[F.lit(int(x)) for x in qv])
    scored = quantize_embeddings(df, emb_col, id_col).select(
        id_col,
        F.round(quantized_cosine(F.col("q"), qc), 6).alias("similarity"))
    return scored.orderBy(F.desc("similarity"), F.col(id_col).asc()) \
                 .limit(k)


# --- product quantization (the rung above per-vector int8) -----------------


def pq_train(df: DataFrame, *, m: int = 8, k: int = 16, iters: int = 1,
             emb_col: str = "embedding", id_col: str = "vec_id",
             salt: str = "pq") -> list[list[list[float]]]:
    """Codebooks[s][j] = centroid j of subspace s. Seeds are the
    deterministic hash-ordered pick every cluster-shaped operator here
    shares (similarity.seed_centroids); ``iters`` Lloyd rounds then
    refine each subspace's centroids to the mean of its assigned
    subvectors — fully deterministic (assignment ties break to the lower
    code, means are exact), measured to roughly halve ADC-stage recall
    loss vs raw seeds. Empty cells keep their previous centroid.

    Scale shape per round: one encode projection (no shuffle) + ONE
    map-side-combined groupBy over (subspace, code, element) — the
    exploded stream is rows x dim but collapses to m*k*(dim/m) = k*dim
    cells before the shuffle; the collected codebook is k*dim floats,
    independent of corpus size.
    """
    from pdf_parser_spark.operators.similarity import seed_centroids

    seeds = seed_centroids(df, k=k, emb_col=emb_col, id_col=id_col,
                           salt=salt)
    if len(seeds) < k:
        raise ValueError(f"need >= {k} non-empty vectors, got {len(seeds)}")
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    d_s = dim // m
    cb = [[list(seed[s * d_s:(s + 1) * d_s]) for seed in seeds]
          for s in range(m)]
    for _ in range(max(0, iters)):
        enc = pq_encode(df.where(F.size(F.col(emb_col)) == dim), cb,
                        emb_col=emb_col)
        cells = (enc.select(
            F.posexplode(
                F.transform(
                    F.col("pq_codes"),
                    lambda code, s: F.struct(
                        code.alias("j"),
                        F.slice(F.col(emb_col), s * d_s + 1, d_s)
                         .alias("sub"))))
            .alias("s", "cell"))
            .select("s", F.col("cell.j").alias("j"),
                    F.posexplode(F.col("cell.sub")).alias("i", "x"))
            .groupBy("s", "j", "i").agg(F.avg("x").alias("mu"))
            .collect())
        for r in cells:
            cb[r.s][r.j][r.i] = float(r.mu)
    return cb


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]], *,
              emb_col: str = "embedding") -> DataFrame:
    """Append ``pq_codes``: array<int> of m entries, code s = argmin-L2
    centroid of subspace s (ties break to the lower code — struct
    ordering on (dist, code)).

    Storage math: m codes of k<=256 replace dim float32s — at m=8 on a
    768-d vector that is 8 bytes vs 3 KB, a 384x scan-width cut for the
    candidate-generation pass. All JVM expressions, no Python, no
    shuffle. The m x k argmin runs as runtime higher-order functions
    (transform / zip_with / aggregate) rather than m*k Python-unrolled
    aggregate subtrees: the unrolled form cost ~12 s of DRIVER plan
    construction per call at m=8,k=32 (measured; the generated method
    also blows past the JIT size where whole-stage codegen falls back
    anyway). The codebook itself ships as a ONE-ROW broadcast relation
    crossJoined in, NOT as a nested-array literal: the literal form
    re-enters constant folding on every optimizer pass and measured
    ~2.4 s of fixed per-query analysis cost vs ~0.9 s for the broadcast
    row — identical fold order, bit-identical codes. Ties break to the
    lower code (struct ordering on (dist, code), zip_with preserves
    centroid order).
    """
    m = len(codebooks)
    k = len(codebooks[0])
    d_s = len(codebooks[0][0])
    e = F.col(emb_col)
    cb_df = df.sparkSession.createDataFrame(
        [([[[float(c) for c in cent] for cent in sub]
           for sub in codebooks],)],
        "__pq_cb array<array<array<double>>>")
    cb_col = F.col("__pq_cb")

    def sub_code(s: Column) -> Column:
        sub = F.slice(e, s * d_s + 1, d_s)
        return F.array_min(
            F.zip_with(
                F.element_at(cb_col, s + 1),
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda cent, j: F.struct(
                    F.aggregate(F.zip_with(sub, cent,
                                           lambda x, c: (x - c) * (x - c)),
                                F.lit(0.0),
                                lambda acc, v: acc + v).alias("d"),
                    j.alias("j"))))["j"]

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), sub_code)
    return (df.crossJoin(F.broadcast(cb_df))
            .withColumn("pq_codes", codes).drop("__pq_cb"))


def pq_adc_topk(codes_df: DataFrame, codebooks: list[list[list[float]]],
                query_vec: list[float], top_k: int = 10, *,
                id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance top-k: the query stays full-precision, the
    corpus is its codes. The m x k table of query-subvector-to-centroid
    squared distances is computed on the DRIVER (m*k floats) and shipped
    as literals; per row the approximate distance is m element_at
    lookups summed — a pure projection over the (id, codes) relation,
    the shape that scans billions of rows at full I/O speed. Returns
    (id_col, adc_dist, rank) ascending via TakeOrderedAndProject.
    """
    from pyspark.sql.window import Window

    m = len(codebooks)
    d_s = len(codebooks[0][0])
    table = [[sum((float(query_vec[s * d_s + i]) - float(cent[i])) ** 2
                  for i in range(d_s))
              for cent in codebooks[s]] for s in range(m)]
    dist = None
    for s in range(m):
        term = F.element_at(
            F.array(*[F.lit(v) for v in table[s]]),
            F.element_at(F.col("pq_codes"), s + 1) + 1)
        dist = term if dist is None else dist + term
    scored = codes_df.select(F.col(id_col),
                             F.round(dist, 6).alias("adc_dist"))
    order = [F.asc("adc_dist"), F.asc(id_col)]
    topk = scored.orderBy(*order).limit(top_k)
    return topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int"))


def pq_search(emb_df: DataFrame, codebooks: list[list[list[float]]],
              query_vec: list[float], top_k: int = 10, *,
              overfetch: int = 5, emb_col: str = "embedding",
              id_col: str = "vec_id",
              codes_df: DataFrame | None = None) -> DataFrame:
    """Two-stage PQ search: ADC over the codes generates
    ``overfetch * top_k`` candidates (the full-corpus pass reads m bytes
    per row, never the vectors), then the candidates ALONE are reranked
    with exact L2 over their full embeddings — a semi-join that touches
    overfetch*top_k rows regardless of corpus size. This is the standard
    recall repair for code-only ranking (Jegou et al. 2011): the codes
    only need the true neighbors inside the candidate set, not in order.
    Returns (id_col, l2_dist, rank), exact distances, ascending.

    ``codes_df`` (id, pq_codes): the materialized code table. Pass it —
    encoding once and storing the codes IS the point of PQ; the default
    re-encode per query is a convenience for one-shot use.
    """
    codes = (codes_df if codes_df is not None
             else pq_encode(emb_df, codebooks, emb_col=emb_col)
             .select(id_col, "pq_codes"))
    cand = pq_adc_topk(codes, codebooks, query_vec,
                       top_k=overfetch * top_k, id_col=id_col)
    return _exact_rerank(emb_df, cand, query_vec, top_k, emb_col, id_col)


def pq_funnel_topk(emb_df: DataFrame, codebooks: list[list[list[float]]],
                   query_vec: list[float], top_k: int = 10, *,
                   overfetch: int = 5, n_planes: int = 8,
                   n_probe: int = 16, n_tables: int = 3, seed: int = 42,
                   emb_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """The full modern retrieval funnel in one plan, three stages each
    cheaper per row than the last is wide:

    1. **Prune** — margin-guided multi-probe LSH
       (similarity.multiprobe_candidates, Lv et al. VLDB 2007) keeps
       only rows in the query's probed buckets: at scale, partition
       pruning on a bucket-partitioned table — most rows are never read
       at all.
    2. **ADC** — the survivors are scored over their m-byte PQ codes
       (Jegou et al. 2011): the scan reads m bytes/row instead of
       dim*4, a ~dim*4/m cut of candidate-stage scan bytes.
    3. **Rerank** — exact L2 over the full vectors of the
       overfetch*top_k ADC winners only (a broadcast semi-join touching
       a constant number of rows).

    Returns (id_col, l2_dist, rank) — exact distances, ascending; same
    contract as :func:`pq_search`. Production stores the bucket columns
    AND the code column on the table; here both are computed in-plan
    (the convention every ANN entry in this repo follows). Recall and
    the scanned-bytes budget vs plain multi-probe are gated in
    tests/test_analytics_ops.py and recorded in BASELINE.md.
    """
    from pdf_parser_spark.operators.similarity import multiprobe_candidates

    pruned = multiprobe_candidates(emb_df, query_vec, emb_col=emb_col,
                                   n_planes=n_planes, n_probe=n_probe,
                                   n_tables=n_tables, seed=seed)
    codes = pq_encode(pruned, codebooks, emb_col=emb_col) \
        .select(id_col, "pq_codes")
    return pq_search(emb_df, codebooks, query_vec, top_k,
                     overfetch=overfetch, emb_col=emb_col, id_col=id_col,
                     codes_df=codes)


# --- IVFADC: coarse cells + PQ over residuals (Jegou et al. 2011) ----------


def _exact_rerank(emb_df: DataFrame, cand: DataFrame,
                  query_vec: list[float], top_k: int,
                  emb_col: str, id_col: str) -> DataFrame:
    """Exact-L2 rerank of a candidate id set: broadcast semi-join, then
    TakeOrderedAndProject — touches |cand| rows regardless of corpus
    size. Returns (id_col, l2_dist, rank) ascending."""
    from pyspark.sql.window import Window

    qarr = F.array(*[F.lit(float(v)) for v in query_vec])
    exact = F.aggregate(
        F.zip_with(F.col(emb_col), qarr, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = (emb_df.join(F.broadcast(cand.select(id_col)), id_col)
              .select(F.col(id_col), F.round(exact, 6).alias("l2_dist")))
    order = [F.asc("l2_dist"), F.asc(id_col)]
    topk = scored.orderBy(*order).limit(top_k)
    return topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int"))


def _with_residual(df: DataFrame, centroids: list[list[float]],
                   emb_col: str) -> DataFrame:
    """Attach (ivf_cell, __resid = embedding - centroid[cell]). Residual
    encoding is what makes PQ codes sharp inside a cell: the codes only
    spend their k levels on the WITHIN-cell variance, not on where the
    cell sits in space."""
    from pdf_parser_spark.operators.similarity import (_cents_row_df,
                                                       ivf_assign)

    a = ivf_assign(df, centroids, emb_col)
    # centroid matrix as a one-row broadcast, not a literal — same
    # constant-folding economics as pq_encode's codebook
    cents = _cents_row_df(df, centroids, "__resid_cents")
    cent = F.element_at(F.col("__resid_cents"), F.col("ivf_cell") + 1)
    return (a.crossJoin(F.broadcast(cents))
            .withColumn("__resid",
                        F.zip_with(F.col(emb_col), cent,
                                   lambda x, c: x - c))
            .drop("__resid_cents"))


def ivfpq_train(df: DataFrame, *, n_cells: int = 16, cell_iters: int = 2,
                m: int = 8, k: int = 32, pq_iters: int = 1,
                emb_col: str = "embedding", id_col: str = "vec_id"
                ) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVFADC index: deterministic IVF centroids
    (similarity.ivf_train), then PQ codebooks over the RESIDUALS.
    Returns (centroids, codebooks); both are driver-sized (n_cells*dim
    and k*dim floats) regardless of corpus size."""
    from pdf_parser_spark.operators.similarity import ivf_train

    centroids = ivf_train(df, k=n_cells, iters=cell_iters,
                          emb_col=emb_col, id_col=id_col)
    resid = _with_residual(df, centroids, emb_col)
    cb = pq_train(resid, m=m, k=k, iters=pq_iters, emb_col="__resid",
                  id_col=id_col, salt="ivfpq")
    return centroids, cb


def ivfpq_encode(df: DataFrame, centroids: list[list[float]],
                 codebooks: list[list[list[float]]], *,
                 emb_col: str = "embedding", id_col: str = "vec_id"
                 ) -> DataFrame:
    """(id, ivf_cell, pq_codes): the index relation — 4 + m bytes per
    row. At scale ivf_cell is the table's partition key, so probes are
    partition-pruned scans that never open unprobed cells' files."""
    resid = _with_residual(df, centroids, emb_col)
    return pq_encode(resid, codebooks, emb_col="__resid") \
        .select(id_col, "ivf_cell", "pq_codes")


def ivfpq_adc_topk(codes_df: DataFrame, centroids: list[list[float]],
                   codebooks: list[list[list[float]]],
                   query_vec: list[float], top_k: int = 10, *,
                   n_probe: int = 4, id_col: str = "vec_id") -> DataFrame:
    """IVFADC candidate generation: scan ONLY the ``n_probe`` cells
    nearest the query; within them, distance = the per-cell ADC table
    (query residual vs residual codebooks) summed over m code lookups.
    The n_probe * m * k table is computed on the DRIVER and shipped as
    one literal. Returns (id_col, adc_dist, rank) ascending."""
    from pyspark.sql.window import Window

    from pdf_parser_spark.operators.similarity import rank_cells_by_query

    m = len(codebooks)
    d_s = len(codebooks[0][0])
    probed = rank_cells_by_query(centroids, query_vec)[:n_probe]
    tables = []
    for c in probed:
        rq = [float(q) - float(x) for q, x in zip(query_vec, centroids[c])]
        tables.append(
            [[sum((rq[s * d_s + i] - float(cent[i])) ** 2
                  for i in range(d_s))
              for cent in codebooks[s]] for s in range(m)])
    # the n_probe*m*k distance table rides a one-row broadcast, not a
    # literal (same constant-folding economics as pq_encode's codebook)
    tbl_df = codes_df.sparkSession.createDataFrame(
        [(tables,)], "__adc array<array<array<double>>>")
    probed_lit = F.array(*[F.lit(int(c)) for c in probed])
    pos = F.array_position(probed_lit, F.col("ivf_cell"))  # 1-based
    tbl = F.element_at(F.col("__adc"), pos.cast("int"))
    dist = None
    for s in range(m):
        term = F.element_at(
            F.element_at(tbl, s + 1),
            F.element_at(F.col("pq_codes"), s + 1) + 1)
        dist = term if dist is None else dist + term
    scored = (codes_df.where(F.col("ivf_cell").isin([int(c)
                                                     for c in probed]))
              .crossJoin(F.broadcast(tbl_df))
              .select(F.col(id_col), F.round(dist, 6).alias("adc_dist")))
    order = [F.asc("adc_dist"), F.asc(id_col)]
    topk = scored.orderBy(*order).limit(top_k)
    return topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int"))


def ivfpq_search(emb_df: DataFrame, centroids: list[list[float]],
                 codebooks: list[list[list[float]]],
                 query_vec: list[float], top_k: int = 10, *,
                 n_probe: int = 4, overfetch: int = 5,
                 emb_col: str = "embedding", id_col: str = "vec_id",
                 codes_df: DataFrame | None = None) -> DataFrame:
    """Full IVFADC query: probed-cell ADC generates overfetch*top_k
    candidates (4 + m bytes/row over ~n_probe/n_cells of the corpus),
    exact L2 reranks the candidates alone. Same contract as
    :func:`pq_search` — (id_col, l2_dist, rank), exact, ascending."""
    codes = (codes_df if codes_df is not None
             else ivfpq_encode(emb_df, centroids, codebooks,
                               emb_col=emb_col, id_col=id_col))
    cand = ivfpq_adc_topk(codes, centroids, codebooks, query_vec,
                          top_k=overfetch * top_k, n_probe=n_probe,
                          id_col=id_col)
    return _exact_rerank(emb_df, cand, query_vec, top_k, emb_col, id_col)
