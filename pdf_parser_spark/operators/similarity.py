"""Similarity search over embedding columns (array<float>).

- ``cosine`` / ``dot`` / ``l2_norm``: pure JVM expressions built from
  zip_with + aggregate — no Python in the scoring path, whole-stage
  codegen applies. Zero-norm masking follows the reference's cosine scan
  (reference gea_qa_agent.py:365-397): zero-norm rows (or a zero-norm
  query) score 0.0.
- ``brute_force_topk``: cosine + TakeOrderedAndProject — the exact-answer
  baseline (the reference's JSON-store scan, gea_qa_agent.py:243-261).
- ``sign_lsh_bucket`` + ``ann_topk_multiprobe``: random-hyperplane LSH
  with hyperplanes derived deterministically from a seed, so bucket
  assignment is reproducible across runs/engines, probed in
  query-margin order. Probing b buckets means scanning ~n/2^bits * b
  rows instead of n (the Chroma-HNSW analog, reference
  gea_qa_agent_chroma.py:162-168, rebuilt as a bucketed scan).
- ``ivf_train`` / ``ivf_topk``: coarse k-means cells, exact cosine over
  the probed cells; the physical cell-clustered layout is the maintained
  cow table (sources/maintain.build_ivf_table).

The other ANN tiers (PQ, IVFADC, the kNN graph, the resident index)
live in quantize.py, graphann.py and resident.py; BASELINE.md's "ANN
frontier on the embedding fixtures" section records what each one wins.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with zero-norm masking (0.0, like the reference)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     emb_col: str = "embedding", id_col: str = "vec_id",
                     ) -> DataFrame:
    """Exact top-k by cosine: one scan, TakeOrderedAndProject, no shuffle
    beyond the final ordered take. Ties broken by id for determinism."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.withColumn("similarity", F.round(cosine(F.col(emb_col), q), 6))
    return (scored.orderBy(F.desc("similarity"), F.col(id_col).asc())
                  .select(id_col, "similarity").limit(k))


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5(seed, plane, chunk)."""
    planes = []
    for p in range(n_planes):
        row: list[float] = []
        i = 0
        while len(row) < dim:
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            for byte in h:
                for bit in range(8):
                    row.append(1.0 if (byte >> bit) & 1 else -1.0)
                    if len(row) == dim:
                        break
                if len(row) == dim:
                    break
            i += 1
        planes.append(row)
    return planes


def sign_lsh_bucket(emb_col: Column, planes: list[list[float]]) -> Column:
    """Bucket id = integer of sign bits of <emb, plane_i>; pure expressions."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot(emb_col, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def with_lsh_bucket(df: DataFrame, dim: int, emb_col: str = "embedding",
                    n_planes: int = 8, seed: int = 42) -> DataFrame:
    return df.withColumn(
        "lsh_bucket", sign_lsh_bucket(F.col(emb_col),
                                      hyperplanes(dim, n_planes, seed)))


def _py_bucket(vec: list[float], planes: list[list[float]]) -> int:
    b = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(vec, p)) >= 0:
            b |= 1 << i
    return b


def _probe_masks(n_planes: int, margins: list[float],
                 n_probe: int) -> list[int]:
    """Flip masks ordered by the summed |margin| of their flipped planes —
    the multi-probe LSH probing sequence (Lv et al., VLDB 2007): a plane
    whose hyperplane the query sits nearly ON (small |<q, p>|) is the one
    most likely to separate the query from its true neighbors, so its
    flip is probed first. Deterministic (ties broken by mask value);
    mask 0 (the query's own bucket) always sorts first with score 0."""
    def score(m: int) -> float:
        return sum(abs(margins[i]) for i in range(n_planes) if (m >> i) & 1)

    return sorted(range(1 << n_planes), key=lambda m: (score(m), m))[:n_probe]


def ann_topk_multiprobe(df: DataFrame, query_vec: list[float], k: int = 10,
                        emb_col: str = "embedding", id_col: str = "vec_id",
                        n_planes: int = 8, n_probe: int = 16,
                        n_tables: int = 3, seed: int = 42,
                        min_candidates: int | None = None) -> DataFrame:
    """Margin-guided ANN: per table, probe the ``n_probe`` buckets MOST
    LIKELY to hold the query's neighbors instead of a blind hamming ball.

    A hamming-ball probe treats all h-bit flips as equally likely; the
    query's actual margins say otherwise — flipping the 2 planes it
    nearly touches matters far more than the 2 it is far from.
    BASELINE.md's ANN frontier compares the two orders at the ball's own
    budget (22 buckets at 6 planes); the recall gate is
    test_ann_recall_gates. Execution shape: bucket expressions + isin
    predicate + exact cosine rerank, which at scale is partition pruning
    on a bucketed table.

    ``min_candidates``: optional two-stage budget — if the probed
    candidate set holds fewer rows, the probe budget doubles (and the
    count re-checks) until satisfied or all buckets are probed. Costs one
    cheap count job per expansion; bounds worst-case recall on queries
    whose neighborhood is spread thin without paying the expanded budget
    on every query.
    """
    qf = [float(x) for x in query_vec]
    budget = n_probe
    cand = multiprobe_candidates(df, qf, emb_col=emb_col,
                                 n_planes=n_planes, n_probe=budget,
                                 n_tables=n_tables, seed=seed)
    if min_candidates is not None:
        while cand.count() < min_candidates and budget < (1 << n_planes):
            budget = min(budget * 2, 1 << n_planes)
            cand = multiprobe_candidates(df, qf, emb_col=emb_col,
                                         n_planes=n_planes, n_probe=budget,
                                         n_tables=n_tables, seed=seed)
    return brute_force_topk(cand, qf, k, emb_col, id_col)


def multiprobe_candidates(df: DataFrame, query_vec: list[float], *,
                          emb_col: str = "embedding", n_planes: int = 8,
                          n_probe: int = 16, n_tables: int = 3,
                          seed: int = 42) -> DataFrame:
    """The pruning stage of margin-guided multi-probe LSH, alone: rows of
    ``df`` whose bucket (in any of ``n_tables`` tables) is among the
    query's ``n_probe`` margin-ordered probes. This is the candidate
    feed both the exact rerank (:func:`ann_topk_multiprobe`) and the
    PQ-ADC funnel (quantize.pq_funnel_topk) share; at scale the bucket
    columns are stored and the isin predicate is partition pruning."""
    dim = len(query_vec)
    qf = [float(x) for x in query_vec]
    pred = None
    bucketed = df
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + t)
        qb = _py_bucket(qf, planes)
        margins = [sum(x * y for x, y in zip(qf, p)) for p in planes]
        probes = [qb ^ m for m in _probe_masks(n_planes, margins, n_probe)]
        col = f"__lsh_{t}"
        bucketed = bucketed.withColumn(
            col, sign_lsh_bucket(F.col(emb_col), planes))
        term = F.col(col).isin(probes)
        pred = term if pred is None else (pred | term)
    return bucketed.where(pred).drop(
        *[f"__lsh_{t}" for t in range(n_tables)])


# --- IVF (inverted-file) ANN ------------------------------------------------


def _argmax_cell_over(emb_col: Column, cents_col: Column,
                      k: int) -> Column:
    """Index of the max-cosine centroid against a COLUMN holding the
    centroid matrix (array<array<double>>): zip_with pairs each
    centroid with its index, array_max takes the lexicographic max of
    (sim, idx) structs — sim first, ties to the higher index,
    deterministic. Same fold order as the old per-centroid literal
    unrolling (bit-identical cells), but the plan holds ONE small
    expression instead of k cosine subtrees over k*dim literals — the
    literal form re-entered constant folding on every optimizer pass
    and cost ~3.5 s of fixed per-query analysis at k=16, dim=64."""
    return F.array_max(
        F.zip_with(
            cents_col,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda cent, i: F.struct(cosine(emb_col, cent).alias("sim"),
                                     i.alias("cell"))))["cell"]


def _cents_row_df(df: DataFrame, centroids: list[list[float]],
                  col: str) -> DataFrame:
    """The centroid matrix as a ONE-ROW broadcastable relation."""
    return df.sparkSession.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        f"{col} array<array<double>>")


def ivf_train(df: DataFrame, k: int = 16, iters: int = 2,
              emb_col: str = "embedding", id_col: str = "vec_id",
              ) -> list[list[float]]:
    """Deterministic k-means centroids for IVF cells.

    Init: the k rows with smallest md5(id) (a seeded, order-independent
    sample). Lloyd iterations: argmax-cosine assignment as expressions,
    centroid recompute via posexplode + avg (one shuffle of k*dim floats
    per iteration — the data itself is scanned, never collected; only the
    k x dim centroid matrix ever reaches the driver).
    """
    seed_rows = (df.select(F.col(id_col), F.col(emb_col))
                 .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
                 .limit(k).collect())
    centroids = [[float(x) for x in r[emb_col]] for r in seed_rows]
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, emb_col).select(
            F.col("ivf_cell").alias("cell"), F.col(emb_col).alias("e"))
        means = (assigned.select("cell", F.posexplode("e")
                                 .alias("pos", "v"))
                 .groupBy("cell", "pos")
                 .agg(F.avg("v").alias("m"))
                 .collect())
        new = {c: dict() for c in range(len(centroids))}
        for r in means:
            new[r.cell][r.pos] = r.m
        centroids = [
            [new[c][p] for p in sorted(new[c])] if new.get(c) else centroids[c]
            for c in range(len(centroids))]
    return centroids


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               emb_col: str = "embedding") -> DataFrame:
    """Attach the IVF cell id; at scale this is the partition/bucket key
    of the embedding table, making probes partition-pruned scans. The
    centroid matrix rides a one-row broadcast (see _argmax_cell_over)."""
    cents = _cents_row_df(df, centroids, "__ivf_cents")
    return (df.crossJoin(F.broadcast(cents))
            .withColumn("ivf_cell",
                        _argmax_cell_over(F.col(emb_col),
                                          F.col("__ivf_cents"),
                                          len(centroids)))
            .drop("__ivf_cents"))


def rank_cells_by_query(centroids: list[list[float]],
                        query_vec: list[float]) -> list[int]:
    """Cell ids by descending query cosine — the SAME geometry
    ``ivf_assign`` places rows with (ranking probes by a different
    metric than the assignment would scan the wrong cells). Shared by
    ivf_topk and the IVFADC tier so the two can never drift."""
    def _cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return num / (na * nb) if na > 0 and nb > 0 else 0.0

    return sorted(range(len(centroids)),
                  key=lambda c: (-_cos(query_vec, centroids[c]), c))


def ivf_topk(df: DataFrame, centroids: list[list[float]],
             query_vec: list[float], k: int = 10, n_probe: int = 2,
             emb_col: str = "embedding", id_col: str = "vec_id",
             ) -> DataFrame:
    """IVF approximate top-k: rank centroids by query cosine driver-side
    (k_cells tiny), scan only the ``n_probe`` closest cells, exact cosine
    within them."""
    probe = rank_cells_by_query(centroids, query_vec)[:n_probe]
    cells = ivf_assign(df, centroids, emb_col)
    return brute_force_topk(cells.where(F.col("ivf_cell").isin(probe)),
                            query_vec, k, emb_col, id_col)


def cosine_dup_pairs(df: DataFrame, dim: int, threshold: float = 0.95,
                     emb_col: str = "embedding", id_col: str = "vec_id",
                     n_planes: int = 8, seed: int = 42,
                     max_bucket_size: int | None = None,
                     probe_flips: int = 0) -> DataFrame:
    """Embedding near-dup pairs: sign-LSH bucket self-join + exact cosine.

    Near-identical vectors share all sign bits with high probability, so
    the self-join fans out per bucket (n/2^bits rows each under a spread
    distribution), never all-pairs. ``max_bucket_size`` bounds the one
    quadratic residual — a mega-cluster of near-identical embeddings
    landing in one bucket emits C(m,2) pairs; over-cap buckets emit a
    star on the bucket's min id instead (m-1 pairs, exact cosine still
    verified per edge). APPROXIMATE, stated precisely: because star
    edges are verified against the hub, an over-cap bucket keeps exactly
    its members within ``threshold`` of the hub — a member pair that
    qualifies mutually but not via the hub loses its edge (canopy-style
    center-link clustering). Exact for the motivating case (a
    near-identical cluster, where every member clears the hub test);
    dedup.minhash_lsh_pairs' star is exactly component-preserving
    because its candidates are unverified. None keeps exact clique
    output.

    Recall trade, measured: EXACT duplicates always share every sign
    bit, so exact-dup corpora recover 100% of qualifying pairs
    (oracle-hash-exact at every standard sf). NEAR-exact pairs can lose
    an occasional hyperplane flip: on a 10x-tiled corpus of ~90k pairs
    at cosine ~0.99996 (per-copy ±0.001 perturbation), n_planes=6
    recovered 89,329/90,050 = 99.2% of the exhaustive-oracle pairs
    (ORACLE_SCALE10_FULL_r5.json, 2026-08-21). Fewer planes raise
    recall and bucket sizes; ``probe_flips=1`` is the scale path when
    near-exact recall must be ~1: one side of the self-join additionally
    probes every bucket at Hamming distance 1 (n_planes+1 probe rows per
    vector, join fan still bucket-bounded), recovering every pair that
    lost exactly one hyperplane flip. Each qualifying pair matches via
    EXACTLY one probe mask (the pair's bucket XOR), so no dedup shuffle
    is needed. Measured on the adversarial corpus above: 90,034/90,050
    pairs (99.98% — the residual 16 pairs flipped >=2 planes), at
    ~(n_planes+1)x the candidate cosine work (BASELINE.md round 5).
    Composes with the
    exact-clique mode only (``max_bucket_size`` caps buckets AFTER
    candidate generation semantics change; combining them would probe
    into star hubs and alter the stated canopy contract — refused).
    """
    if probe_flips not in (0, 1):
        raise ValueError(f"probe_flips supports 0 or 1, got {probe_flips}")
    if probe_flips and max_bucket_size is not None:
        raise ValueError(
            "probe_flips composes with exact-clique mode only "
            "(max_bucket_size=None): probing into star hubs would "
            "change the canopy contract")
    bucketed = with_lsh_bucket(df, dim, emb_col, n_planes, seed) \
        .select(F.col(id_col).alias("id"), F.col(emb_col).alias("e"),
                "lsh_bucket")
    if probe_flips:
        # one-sided multi-probe: the smaller-id side of each pair scans
        # its own bucket plus every bucket one hyperplane flip away.
        # For a pair whose buckets XOR to m, exactly one probe mask
        # (m itself) matches — candidates are produced once, no
        # dedup shuffle required.
        masks = F.array(F.lit(0),
                        *[F.lit(1 << i) for i in range(n_planes)])
        probes = bucketed.select(
            "id", "e",
            F.explode(F.transform(
                masks,
                lambda m: F.col("lsh_bucket").bitwiseXOR(m)))
            .alias("lsh_bucket"))
        a, b = probes.alias("a"), bucketed.alias("b")
        return (a.join(b, (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
                       & (F.col("a.id") < F.col("b.id")))
                .withColumn("similarity",
                            F.round(cosine(F.col("a.e"), F.col("b.e")), 6))
                .where(F.col("similarity") >= threshold)
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"), "similarity"))
    if max_bucket_size is not None:
        stats = (bucketed.groupBy("lsh_bucket")
                 .agg(F.count("*").alias("__m"), F.min("id").alias("__hub")))
        big = stats.where(F.col("__m") > max_bucket_size) \
                   .select("lsh_bucket", "__hub")
        hubs = (bucketed.join(big, "lsh_bucket")
                .where(F.col("id") == F.col("__hub"))
                .select("lsh_bucket", F.col("id").alias("hub_id"),
                        F.col("e").alias("hub_e")))
        star = (bucketed.join(hubs, "lsh_bucket")
                .where(F.col("id") != F.col("hub_id"))
                .select(F.col("hub_id").alias("id_a"),  # hub = min id
                        F.col("id").alias("id_b"),
                        F.col("hub_e").alias("ea"), F.col("e").alias("eb")))
        bucketed = bucketed.join(big.select("lsh_bucket"), "lsh_bucket",
                                 "left_anti")
        a, b = bucketed.alias("a"), bucketed.alias("b")
        clique = (a.join(b, (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
                  & (F.col("a.id") < F.col("b.id")))
                  .select(F.col("a.id").alias("id_a"),
                          F.col("b.id").alias("id_b"),
                          F.col("a.e").alias("ea"), F.col("b.e").alias("eb")))
        cand = clique.unionByName(star)
        return (cand.withColumn("similarity",
                                F.round(cosine(F.col("ea"), F.col("eb")), 6))
                .where(F.col("similarity") >= threshold)
                .select("id_a", "id_b", "similarity"))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (a.join(b, (F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
                   & (F.col("a.id") < F.col("b.id")))
            .withColumn("similarity",
                        F.round(cosine(F.col("a.e"), F.col("b.e")), 6))
            .where(F.col("similarity") >= threshold)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"), "similarity"))


def semantic_dedup(df: DataFrame, *, k: int = 8, threshold: float = 0.9,
                   emb_col: str = "embedding", id_col: str = "vec_id",
                   salt: str = "semdedup") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings into k cells, then prune near-identical rows within each
    cell, keeping one representative per epsilon-ball.

    Deterministic variant, every choice engine-recomputable:
    - centroids = the embeddings of the k seed rows with the smallest
      (md5-hash-bucket, id) — the corpus's own vectors, no RNG, no Lloyd
      state (``ivf_train`` exists when iterated centroids are wanted;
      here determinism and oracle parity win);
    - cell = argmax-cosine centroid, ties to the higher seed index
      (the lexicographic (sim, cell) array_max rule);
    - a row is REMOVED iff a smaller-id row in the same cell has
      round(cosine, 6) >= threshold — the greedy min-id keeper, the same
      survivor rule as every other dedup tier (exact min-struct,
      near-dup min-label, span min-id owner).

    Returns survivors (id_col, cell). The within-cell self-join is the
    SemDeDup cost shape: O(sum m_c^2) over cell sizes, managed by scaling
    k with the corpus (k ~ n / target_cell_size) exactly as the paper
    prescribes (they use k = sqrt-ish fractions of n); the join is
    cell-partitioned, so at 100 TB each cell's quadratic stays inside its
    own shuffle partition and never becomes a global cross product.
    The k-cosine assignment is pure JVM expressions over the scan.
    """
    from pyspark import StorageLevel

    from pdf_parser_spark.operators.dedup import _own

    cells = assign_seed_cells(df, k=k, emb_col=emb_col, id_col=id_col,
                              salt=salt).persist(StorageLevel.MEMORY_AND_DISK)
    a, b = cells.alias("a"), cells.alias("b")
    # pairwise cosine from the precomputed norms (interpreted HOF cost:
    # one zip_with dot per pair instead of dot + two array folds);
    # IEEE-identical to cosine() — same dot fold, same denominator
    denom = F.col("a.enorm") * F.col("b.enorm")
    pair_sim = F.when(denom > 0,
                      dot(F.col("a.e"), F.col("b.e")) / denom) \
        .otherwise(F.lit(0.0))
    dominated = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                        & (F.col("b.id") < F.col("a.id")))
                 .where(F.round(pair_sim, 6) >= threshold)
                 .select(F.col("a.id").alias("id")).distinct())
    out = (cells.join(dominated, "id", "left_anti")
           .select(F.col("id").alias(id_col), "cell"))
    return _own(out, cells)


def seed_centroids(df: DataFrame, *, k: int = 8,
                   emb_col: str = "embedding", id_col: str = "vec_id",
                   salt: str = "semdedup") -> list[list[float]]:
    """The embeddings of the k rows with the smallest (md5-hash-bucket,
    id) — the deterministic centroid choice every cluster-shaped
    operator here shares. One TakeOrdered job; k x dim floats to the
    driver (the k-centroid kind of collect). Zero-length embeddings are
    excluded (a [] centroid would zip to NULL sims downstream)."""
    from pdf_parser_spark.operators.sampling import hash_bucket

    hb = hash_bucket(F.col(id_col), salt)
    seeds = (df.where(F.size(F.col(emb_col)) > 0)
             .select(F.col(id_col).alias("id"),
                     F.col(emb_col).alias("e"), hb.alias("hb"))
             .orderBy("hb", "id").limit(k).collect())
    return [[float(x) for x in r["e"]] for r in seeds]


def assign_seed_cells(df: DataFrame, *, k: int = 8,
                      emb_col: str = "embedding", id_col: str = "vec_id",
                      salt: str = "semdedup") -> DataFrame:
    """(id, e, cell, csim, enorm): argmax-cosine assignment of every
    embedding to k deterministic seed centroids — the shared first stage
    of the cluster-shaped embedding operators (semantic_dedup's cells,
    D4-style prototype pruning). Centroids are the embeddings of the k
    rows with the smallest (md5-hash-bucket, id); assignment ties go to
    the higher seed index (lexicographic (sim, cell) array_max).
    ``csim`` is the cosine to the OWN cell's centroid; ``enorm`` the
    row's L2 norm, exposed so downstream pairwise cosines reuse it. Pure
    JVM expressions over one scan; empty input yields an empty frame of
    the same shape."""
    import math

    centroids = seed_centroids(df, k=k, emb_col=emb_col, id_col=id_col,
                               salt=salt)
    base = df.select(F.col(id_col).alias("id"), F.col(emb_col).alias("e"))
    if not centroids:
        # empty corpus: no seeds — empty result, same schema (every
        # other dedup tier degrades this way too)
        return (base.select("id", "e", F.lit(0).cast("int").alias("cell"),
                            F.lit(0.0).alias("csim"),
                            F.lit(0.0).alias("enorm"))
                .where(F.lit(False)))
    # higher-order array expressions evaluate interpreted
    # (CodegenFallback, the PLANS 16 measurement), so redundant folds are
    # real cost: the row norm is computed ONCE into `enorm` instead of
    # once per centroid, and each centroid's norm is computed Python-side
    # — same left-fold summation order as F.aggregate and DuckDB's
    # list_dot_product, so every quotient stays bit-identical to
    # cosine()'s and the oracle's. The centroid matrix + norms ride a
    # ONE-ROW broadcast relation, not k unrolled literal subtrees (the
    # literal form re-enters constant folding on every optimizer pass —
    # the same fixed-analysis tax pq_encode/ivf_assign shed).
    cnorms = []
    for c in centroids:
        acc = 0.0
        for v in c:
            acc += v * v
        cnorms.append(math.sqrt(acc))
    cents_df = df.sparkSession.createDataFrame(
        [([[float(x) for x in c] for c in centroids], cnorms)],
        "__cents array<array<double>>, __cnorms array<double>")
    base = (base.withColumn("enorm", l2_norm(F.col("e")))
            .crossJoin(F.broadcast(cents_df)))

    def score(cent: Column, i: Column) -> Column:
        denom = F.col("enorm") * F.element_at(F.col("__cnorms"), i + 1)
        sim = F.when(denom > 0, dot(F.col("e"), cent) / denom) \
            .otherwise(F.lit(0.0))
        return F.struct(sim.alias("sim"), i.alias("cell"))

    # name the scored array BEFORE field access: best["cell"]/best["sim"]
    # on a raw expression would each inline the whole scoring tree twice
    base = base.withColumn(
        "__best",
        F.array_max(F.zip_with(F.col("__cents"),
                               F.sequence(F.lit(0),
                                          F.lit(len(centroids) - 1)),
                               score)))
    return base.select("id", "e",
                       F.col("__best")["cell"].cast("int").alias("cell"),
                       F.col("__best")["sim"].alias("csim"), "enorm")


def cluster_prune_prototypes(df: DataFrame, *, k: int = 8,
                             drop_frac: float = 0.2,
                             emb_col: str = "embedding",
                             id_col: str = "vec_id",
                             salt: str = "semdedup") -> DataFrame:
    """D4-style prototype pruning (Tirumala et al. 2023, the stage after
    SemDeDup): within each embedding cell, drop the ``drop_frac`` most
    PROTOTYPICAL rows — the ones closest to their centroid, i.e. the
    most redundant mass of the cluster — and keep the diverse remainder.

    Deterministic: cells/centroids from :func:`assign_seed_cells`;
    within a cell rows rank by (csim DESC, id ASC) and the first
    floor(drop_frac * cell_size) ranks are dropped. Returns survivors
    (id_col, cell, proto_sim = round(csim, 6)).

    Scale: one scan for the assignment, ONE cell-partitioned window
    (rank + count in the same partition pass) — no self-join at all, so
    this tier is strictly cheaper than semantic_dedup; per-cell sort
    state is the cell size, bounded by scaling k with the corpus.
    """
    if not 0.0 <= drop_frac < 1.0:
        raise ValueError(f"drop_frac must be in [0, 1), got {drop_frac}")
    from pyspark.sql.window import Window

    cells = assign_seed_cells(df, k=k, emb_col=emb_col, id_col=id_col,
                              salt=salt)
    w = Window.partitionBy("cell").orderBy(F.desc("csim"), F.asc("id"))
    m = Window.partitionBy("cell")
    ranked = (cells.withColumn("__rn", F.row_number().over(w))
              .withColumn("__m", F.count("*").over(m)))
    return (ranked
            .where(F.col("__rn")
                   > F.floor(F.lit(float(drop_frac)) * F.col("__m")))
            .select(F.col("id").alias(id_col), "cell",
                    F.round("csim", 6).alias("proto_sim")))


def mmr_rerank(candidates: DataFrame, query_vec: list[float],
               top_k: int = 10, *, lam: float = 0.7,
               id_col: str = "vec_id",
               emb_col: str = "embedding") -> list:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
    greedily pick the candidate maximizing
    lam * sim(q, d) - (1 - lam) * max over selected of sim(d, s) —
    relevance traded against redundancy, the standard diversification
    pass over an over-fetched retrieval list.

    ``candidates`` is an already-retrieved top-C list (ANN/BM25/hybrid
    output joined back to its vectors) — C is tens-to-hundreds, so the
    greedy loop runs on the DRIVER over collected rows (the deliberate
    tiny-set materialization, retrieval.py:165 precedent); the corpus-
    scale work happened in the retrieval stage. Returns
    [(id, score, rank)] — deterministic: ties break to the lower id.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    import math

    rows = candidates.select(id_col, emb_col).collect()
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0

    def cos(a: list[float], b: list[float], bn: float) -> float:
        an = math.sqrt(sum(x * x for x in a)) or 1.0
        return sum(x * y for x, y in zip(a, b)) / (an * bn)

    cand = {r[id_col]: [float(x) for x in r[emb_col]] for r in rows}
    rel = {i: cos(v, query_vec, qn) for i, v in cand.items()}
    selected: list[tuple] = []
    while cand and len(selected) < top_k:
        best = None
        for i, v in cand.items():
            red = max((cos(v, cand_s, math.sqrt(
                sum(x * x for x in cand_s)) or 1.0)
                for _, _, cand_s in selected), default=0.0)
            score = lam * rel[i] - (1.0 - lam) * red
            if best is None or score > best[1] + 1e-12 or \
                    (abs(score - best[1]) <= 1e-12 and i < best[0]):
                best = (i, score)
        i, score = best
        selected.append((i, round(score, 6), cand[i]))
        del cand[i]
    return [(i, s, rank + 1)
            for rank, (i, s, _) in enumerate(selected)]
