"""Training-data curation operators: decontamination, repetition filters,
PII redaction, deterministic global shuffle, and sequence packing.

These extend the engine's training-pipeline surface (SURVEY.md §2's
"LLM-data-pipeline" tier) with the standard curation passes a web-scale
corpus goes through before pretraining:

- eval-set decontamination: flag documents sharing any 13-token n-gram
  with a held-out eval set (the GPT-3/PaLM convention);
- repetition quality filters: duplicate-line and most-frequent-n-gram
  character fractions (the Gopher heuristics);
- PII redaction: email/SSN/phone/IPv4 patterns counted and masked;
- deterministic global shuffle: a stable, seed-keyed total order that any
  two runs (and any two engines) agree on exactly;
- sequence packing: concat-and-cut packing of documents into fixed
  token-budget training sequences, with per-document span bookkeeping.

Everything is JVM column expressions except the repetition counts, which
are one Arrow-batched pandas UDF (see the scale notes). The repeated-
element / boilerplate spirit mirrors the reference's repeated-header
detection (reference pdf_parser.py:200-259 drops repeated page furniture;
the repetition filters here generalize the same "repeated content is
low-value" rule to training corpora).

Scale notes (100 TB):
- decontamination joins on xxhash64(ngram) longs, never raw 13-gram
  strings (fixed-width shuffle keys — same lesson as dedup.py's shingle
  cache); the eval side is DISTINCT-reduced and broadcast by default
  (eval sets are ~1e3-1e5 docs; pass broadcast_eval=False past ~100 MB
  of hashed grams to fall back to a shuffle join).
- repetition features are per-row and zero-shuffle: one Arrow-batched
  pandas UDF doing O(L) Counter passes per document. A Catalyst
  higher-order-expression rendition was measured ~40x slower (81 s vs
  ~2 s on the 500-doc contract run): it runs interpreted and is O(L^2)
  in the per-doc line/gram count. Fractions are derived JVM-side with
  F.round so DuckDB oracles stay bit-identical.
- global shuffle / packing avoid the single-partition global window via
  prefix-sum decomposition: 16^prefix_len md5-prefix groups (default
  65,536) get per-group windows (distributed) plus a broadcast offset
  table — the standard scalable total-order rank; prefix_len sizes the
  per-task sort at n / 16^prefix_len without changing the result.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (IntegerType, LongType, StructField,
                               StructType)

from pdf_parser_spark.operators.textstats import (ascii_tokens, token_count,
                                                  tokens_array)

# ---------------------------------------------------------------------------
# n-gram windows (shared by decontamination and repetition filters)
# ---------------------------------------------------------------------------


def ngram_windows(col: Column, n: int) -> Column:
    """All space-joined n-token windows of a text column (empty if < n).

    Tokenization follows the engine-wide ASCII-\\s+ convention
    (textstats.tokens_array), so DuckDB oracles reproduce it exactly.
    """
    toks = tokens_array(col)
    win = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) >= n, win) \
            .otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# eval-set decontamination (13-gram overlap)
# ---------------------------------------------------------------------------


def decontaminate(docs: DataFrame, eval_docs: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 13, broadcast_eval: bool = True) -> DataFrame:
    """Flag training documents that share any n-token gram with eval docs.

    Returns one row per CONTAMINATED document:
    (id_col, n_grams, n_contaminated, contamination_ratio) where
    n_contaminated counts the doc's gram INSTANCES (window positions)
    whose text appears anywhere in the eval set, and contamination_ratio
    = n_contaminated / n_grams rounded to 6 places.

    Join keys are xxhash64 longs of the gram strings, not the strings —
    fixed-width shuffle/broadcast payload at any n. A 64-bit collision
    would mis-flag one window; at 1e12 grams the expected collision count
    is ~0.03, acceptable for a filter whose action is "drop the doc".

    The eval side needs only ``text_col`` (no id) — any parquet of
    held-out eval text works as-is.
    """
    def gram_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.transform(ngram_windows(F.col(text_col), n),
                                  lambda g: F.xxhash64(g))).alias("gh"))

    eval_grams = eval_docs.select(
        F.explode(F.transform(ngram_windows(F.col(text_col), n),
                              lambda g: F.xxhash64(g))).alias("gh")) \
        .distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)

    doc_grams = gram_hashes(docs)
    # total windows per doc is pure token arithmetic (size - n + 1,
    # floored at 0) — no second materialization of the gram array
    totals = docs.select(
        F.col(id_col),
        F.greatest(F.size(tokens_array(F.col(text_col))) - F.lit(n - 1),
                   F.lit(0)).alias("n_grams"))

    hits = (doc_grams.join(eval_grams, "gh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_contaminated")))
    return (hits.join(totals, id_col)
            .select(id_col, "n_grams", "n_contaminated",
                    F.round(F.col("n_contaminated")
                            / F.col("n_grams").cast("double"), 6)
                     .alias("contamination_ratio")))


# ---------------------------------------------------------------------------
# repetition quality filters (Gopher-style)
# ---------------------------------------------------------------------------


# Spark SQL's trim() strips ASCII space (0x20) ONLY — not Java
# String.trim's <= U+0020 rule, and not Python str.strip()'s Unicode
# whitespace set. DuckDB's trim() default is the same space-only rule,
# which is what makes the oracle engine-portable; the Python twin must
# match both, so a line is blank iff it contains nothing but ' '.
_TRIM_CHARS = " "


def repetition_counts_py(text: str | None) -> tuple[int, int, int, int,
                                                    int, int, int]:
    """Integer repetition counts for one document (pure Python, O(L)).

    Returns (n_lines, n_dup_lines, line_chars, dup_line_chars, bi_cov,
    tri_cov, n_chars): non-blank line count, lines minus distinct lines,
    total chars across non-blank lines, chars sitting in lines occurring
    more than once (all occurrences counted), chars covered by the most
    frequent word 2-/3-gram (count * gram length; (count, gram) max so
    ties break to the lexicographically greatest gram), and total chars.
    Shared by the Arrow UDF and the pytest oracles.
    """
    t = text or ""
    lines = [x for x in t.split("\n") if x.strip(_TRIM_CHARS)]
    line_counts = Counter(lines)
    n_lines = len(lines)
    n_dup = n_lines - len(line_counts)
    line_chars = sum(len(x) for x in lines)
    dup_chars = sum(len(x) * c for x, c in line_counts.items() if c > 1)

    toks = ascii_tokens(t)

    def top_cov(n: int) -> int:
        if len(toks) < n:
            return 0
        grams = Counter(" ".join(toks[i:i + n])
                        for i in range(len(toks) - n + 1))
        cnt, g = max((c, g) for g, c in grams.items())
        return cnt * len(g)

    return (n_lines, n_dup, line_chars, dup_chars,
            top_cov(2), top_cov(3), len(t))


_REP_SCHEMA = StructType([
    StructField("n_lines", IntegerType()),
    StructField("n_dup_lines", IntegerType()),
    StructField("line_chars", LongType()),
    StructField("dup_line_chars", LongType()),
    StructField("bi_cov", LongType()),
    StructField("tri_cov", LongType()),
    StructField("n_chars", LongType()),
])


def _repetition_counts_series(s: pd.Series) -> pd.DataFrame:
    rows = [repetition_counts_py(t) for t in s]
    return pd.DataFrame(rows, columns=[f.name for f in _REP_SCHEMA.fields])


repetition_counts_udf = pandas_udf(_repetition_counts_series, _REP_SCHEMA)


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append Gopher-style repetition signals (Arrow-batched hot path).

    - n_lines: non-blank lines;
    - dup_line_frac: fraction of lines that are repeats of an earlier
      line (n_lines - n_distinct over n_lines);
    - dup_line_char_frac: fraction of line characters sitting in lines
      that occur more than once (all occurrences counted);
    - top_bigram_char_frac / top_trigram_char_frac: characters covered
      by the single most frequent word 2-/3-gram (count * gram length
      over total chars), ties broken by the lexicographically greatest
      gram so the winner is deterministic.

    One Arrow-batched pandas UDF computes the integer counts in O(L)
    per document (Counter passes); fractions are JVM F.round (so the
    DuckDB oracle rounds the same way). Zero shuffles.
    """
    rc = F.col("_rc")

    def nonzero(c: Column) -> Column:
        return F.when(c > 0, c.cast("double")).otherwise(F.lit(1.0))

    nl, nc, nz = (nonzero(rc["n_lines"]), nonzero(rc["line_chars"]),
                  nonzero(rc["n_chars"]))
    return (df.withColumn("_rc", repetition_counts_udf(F.col(text_col)))
            .withColumn("n_lines", rc["n_lines"])
            .withColumn("dup_line_frac",
                        F.round(rc["n_dup_lines"].cast("double") / nl, 6))
            .withColumn("dup_line_char_frac",
                        F.round(rc["dup_line_chars"].cast("double") / nc, 6))
            .withColumn("top_bigram_char_frac", F.round(rc["bi_cov"] / nz, 6))
            .withColumn("top_trigram_char_frac",
                        F.round(rc["tri_cov"] / nz, 6))
            .drop("_rc"))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# patterns restricted to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, \b —
# no backreferences, no lookaround. Replacement order is load-bearing
# (emails contain digits/dots that the later patterns would chew on):
# EMAIL -> SSN -> PHONE -> IP, identical on both engines.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "<IP>"),
)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and mask PII patterns; adds n_<kind> counts + redacted_text.

    Counts are measured on the ORIGINAL text (non-overlapping leftmost
    matches); the redacted column applies the replacements sequentially
    in PII_PATTERNS order. Pure regexp expressions — codegen'd, no
    Python, no shuffle.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    red = c
    for kind, pat, token in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(c, F.lit(pat)))
        red = F.regexp_replace(red, pat, token)
    return out.withColumn("redacted_text", red)


# ---------------------------------------------------------------------------
# deterministic global shuffle + sequence packing (shared prefix-sum rank)
# ---------------------------------------------------------------------------


def _shuffle_key(id_col: str, seed: int) -> Column:
    """Stable per-row shuffle key: md5 over (id, seed) — engine-portable
    (DuckDB md5 produces the identical hex), uniform, and deterministic
    across runs, partitionings, and cluster sizes."""
    return F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                             F.lit(str(seed))))


def _with_global_order(df: DataFrame, id_col: str, seed: int,
                       extra_cumsum: Column | None = None,
                       prefix_len: int = 4) -> DataFrame:
    """Attach shuffle_pos (0-based global rank by md5 shuffle key) and,
    optionally, cum_tokens (global inclusive prefix sum of extra_cumsum)
    WITHOUT a single-partition global window.

    Decomposition: grp = first ``prefix_len`` hex chars of the key
    (16^prefix_len groups). The md5 hex ORDER factors as (grp, key) — a
    prefix orders before the full string — so per-group windows ordered
    by (key, id) plus a broadcast running offset of the per-group totals
    reproduce the exact global rank/prefix-sum FOR ANY prefix length;
    prefix_len only moves cost. Per-group windows shuffle once on grp;
    the offset table is an agg of 16^prefix_len rows whose own
    single-partition window is trivial at that size.

    Sizing: per-task sort volume is n / 16^prefix_len. The default 4
    (65,536 groups) keeps a 10^12-row corpus at ~15M rows per group;
    bump to 5 (1M groups, ~24 MB broadcast) beyond that. 2 suffices for
    test-scale corpora — the result is bit-identical at every setting.
    """
    from pyspark.sql import Window

    key = _shuffle_key(id_col, seed)
    base = df.withColumn("_sk", key).withColumn(
        "_grp", F.substring("_sk", 1, prefix_len))
    w = (Window.partitionBy("_grp")
               .orderBy("_sk", id_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = base.withColumn("_rn", F.count("*").over(w))
    if extra_cumsum is not None:
        base = base.withColumn("_val", extra_cumsum) \
                   .withColumn("_cs", F.sum("_val").over(w))

    aggs = [F.count("*").alias("_n")]
    if extra_cumsum is not None:
        aggs.append(F.sum("_val").alias("_t"))
    per_grp = base.groupBy("_grp").agg(*aggs)
    wg = (Window.orderBy("_grp")
                .rowsBetween(Window.unboundedPreceding, -1))
    offsets = per_grp.select(
        "_grp",
        F.coalesce(F.sum("_n").over(wg), F.lit(0)).alias("_off"),
        *([F.coalesce(F.sum("_t").over(wg), F.lit(0)).alias("_toff")]
          if extra_cumsum is not None else []))
    # 16^prefix_len rows: the single-partition window over per_grp is
    # intentional (trivial at that size)
    out = base.join(F.broadcast(offsets), "_grp")
    out = out.withColumn("shuffle_pos", (F.col("_off") + F.col("_rn") - 1)
                         .cast("long"))
    if extra_cumsum is not None:
        out = out.withColumn("cum_tokens",
                             (F.col("_toff") + F.col("_cs")).cast("long"))
    return out.drop("_sk", "_grp", "_rn", "_val", "_cs", "_n", "_off",
                    "_t", "_toff")


def global_shuffle(df: DataFrame, id_col: str = "doc_id",
                   seed: int = 0) -> DataFrame:
    """Deterministic, seed-keyed global shuffle order.

    Adds shuffle_pos: the row's 0-based position under ORDER BY
    md5(id:seed), id. Any two runs — and any two engines — produce the
    identical permutation, so a training run is reproducible bit-for-bit
    from (corpus, seed) alone. Distributed rank (no global window); see
    _with_global_order.
    """
    return _with_global_order(df, id_col, seed)


def pack_sequences(df: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", budget: int = 512,
                   seed: int = 0) -> DataFrame:
    """Concat-and-cut sequence packing with per-document span bookkeeping.

    Documents are laid end-to-end in the deterministic global-shuffle
    order and the token stream is cut every `budget` tokens (the
    standard pretraining packing: documents may straddle a cut). Output
    per document: n_tokens, start_offset (global token offset), seq_first
    / seq_last (ids of the first/last training sequences the doc touches)
    and n_seqs = seq_last - seq_first + 1.

    Zero-token documents occupy no stream space: they get the sequence id
    at their start offset and n_seqs = 1.
    """
    toks = token_count(F.col(text_col))
    out = _with_global_order(df.withColumn("n_tokens", toks),
                             id_col, seed, extra_cumsum=F.col("n_tokens"))
    out = (out
           .withColumn("start_offset",
                       F.col("cum_tokens") - F.col("n_tokens"))
           # integer div (nonnegative offsets) — identical to DuckDB //
           .withColumn("seq_first",
                       F.expr(f"start_offset div {budget}").cast("long"))
           .withColumn("seq_last",
                       F.expr(f"greatest(cum_tokens - 1, start_offset) "
                              f"div {budget}").cast("long")))
    return out.withColumn("n_seqs",
                          (F.col("seq_last") - F.col("seq_first") + 1)
                          .cast("long"))


def source_mix_resample(df: DataFrame, target_shares: dict[str, float], *,
                        id_col: str = "doc_id", source_col: str = "source",
                        text_col: str = "text", max_repeat: int = 8,
                        salt: str = "mix") -> DataFrame:
    """Source-mix reweighting: replicate/downsample documents so each
    source's expected TOKEN share matches ``target_shares`` (the domain
    reweighting every pretraining mix does; cf. DoReMi, The Pile's
    per-set epochs). Sources absent from ``target_shares`` are dropped —
    a mixing spec is the universe of what trains.

    weight_s = target_share_s * total_tokens / tokens_s over the kept
    universe; each doc emits n_copies = min(floor(w) + Bernoulli(frac(w)),
    max_repeat) rows, with the Bernoulli decided by the engine-wide
    deterministic md5 bucket of (salt, id) — stochastic rounding, so the
    realized token share converges to the target while every run, engine
    and cluster size reproduces the identical copy set.

    Returns one row per copy: (id, source, weight, copy_idx).

    Scale: ONE map-side-combined aggregate collapses the corpus to
    |sources| rows, which come to the driver (sources number thousands
    at most — this is the k-centroid / bucket-list kind of collect, not
    data) so the per-source weights become a literal CASE on the second
    and only other scan — two scans total, zero joins, zero shuffles of
    the corpus. The explode emits at most max_repeat rows per doc.
    Sources whose kept token total is zero are dropped (a share target
    over zero mass has no defined weight).
    """
    if not target_shares:
        raise ValueError("target_shares must name at least one source")
    import math
    for s, v in target_shares.items():
        if not (math.isfinite(v) and v >= 0):
            # NaN would silently drop the source (every comparison
            # false -> 0 copies); inf would max_repeat-replicate it
            raise ValueError(f"target share for {s!r} must be a finite "
                             f"number >= 0, got {v}")
    from pdf_parser_spark.operators.sampling import SPLIT_BUCKETS, hash_bucket

    sources = sorted(target_shares)
    toks = token_count(F.col(text_col))
    kept = df.where(F.col(source_col).isin(sources))
    per_src = {r[0]: r[1] for r in
               (kept.groupBy(source_col)
                .agg(F.sum(toks.cast("long")).alias("__st"))
                .where(F.col("__st") > 0).collect())}
    total = sum(per_src.values())
    # (share * total) / st in THIS association order — the DuckDB oracle
    # replays the same IEEE-double expression over the same exact
    # integer sums, so the weights match bit-for-bit
    w_map = {s: (float(target_shares[s]) * total) / per_src[s]
             for s in sources if s in per_src}
    if not w_map:
        return (df.select(F.col(id_col), F.col(source_col),
                          F.lit(0.0).alias("weight"),
                          F.lit(1).alias("copy_idx")).where(F.lit(False)))
    w = None
    for s, v in sorted(w_map.items()):
        w = (F.when(F.col(source_col) == s, F.lit(v)) if w is None
             else w.when(F.col(source_col) == s, F.lit(v)))
    joined = (kept.where(F.col(source_col).isin(list(w_map)))
              .withColumn("__w", w))
    frac_bound = F.round((F.col("__w") - F.floor("__w")) * SPLIT_BUCKETS)
    n_copies = F.least(
        F.floor("__w").cast("long")
        + (hash_bucket(F.col(id_col), salt) < frac_bound).cast("long"),
        F.lit(int(max_repeat)))
    return (joined.withColumn("__n", n_copies)
            .where(F.col("__n") > 0)
            .select(F.col(id_col), F.col(source_col),
                    F.round("__w", 6).alias("weight"),
                    F.explode(F.sequence(F.lit(1), F.col("__n").cast("int")))
                     .alias("copy_idx")))


def token_budget_select(df: DataFrame, budget: int, *,
                        id_col: str = "doc_id", text_col: str = "text",
                        seed: int = 0) -> DataFrame:
    """Token-budget corpus draw: the documents forming the first
    ``budget`` tokens of the deterministic seed-keyed shuffle order.

    This is the selection step of "train on B tokens": lay the corpus
    end-to-end in the global_shuffle order (uniform over the corpus, so
    the draw is an unbiased sample of it) and cut the stream at the
    budget. A document is selected iff its start offset lies inside the
    budget; the document straddling the cut is kept and marked
    ``clipped`` with ``take_tokens`` telling the trainer how much of it
    fits — exactly the boundary bookkeeping pack_sequences does per
    sequence, applied corpus-wide.

    Returns one row per selected document:
    (id, n_tokens, shuffle_pos, start_offset, take_tokens, clipped).

    Determinism: same md5(id:seed) key as global_shuffle, so the drawn
    set is a function of (corpus, seed, budget) alone — any run, engine,
    or cluster size reproduces it bit-for-bit, and budgets nest: the
    B-token draw is a prefix of the B'-token draw for B <= B'.

    Scale: rides the same md5-prefix-group prefix-sum decomposition as
    global_shuffle (no single-partition window); the budget filter is a
    plain predicate on the prefix sum. Zero-token documents occupy no
    stream space but are still drawn if their offset is inside the
    budget (they carry metadata; dropping them is a separate filter's
    job).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    toks = token_count(F.col(text_col)).cast("long")
    out = _with_global_order(df.withColumn("n_tokens", toks),
                             id_col, seed, extra_cumsum=F.col("n_tokens"))
    start = (F.col("cum_tokens") - F.col("n_tokens")).cast("long")
    return (out.withColumn("start_offset", start)
            .where(F.col("start_offset") < budget)
            .withColumn("take_tokens",
                        F.least(F.col("n_tokens"),
                                F.lit(int(budget)) - F.col("start_offset"))
                        .cast("long"))
            .withColumn("clipped", F.col("cum_tokens") > budget))


# ---------------------------------------------------------------------------
# DSIR-style hashed-n-gram importance weighting
# ---------------------------------------------------------------------------


def hashed_token_bucket(col: Column, n_buckets: int) -> Column:
    """Engine-portable token -> feature-bucket hash: the md5-prefix-as-
    bigint trick (proved DuckDB-mirrorable by the MinHash oracle) mod
    n_buckets. 60 bits of md5 before the mod, so bucket balance is
    hash-uniform regardless of n_buckets."""
    return (F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
            % int(n_buckets))


def dsir_importance(df: DataFrame, target: DataFrame, *,
                    id_col: str = "doc_id", text_col: str = "text",
                    n_buckets: int = 4096,
                    alpha: float = 1.0,
                    raw_counts: DataFrame | None = None) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023), the hashed-unigram variant: score every raw document by the
    log-likelihood ratio of a TARGET-domain unigram LM vs the RAW-corpus
    unigram LM, both estimated over ``n_buckets`` hashed token features
    with add-``alpha`` smoothing.

        importance(doc) = mean over tokens of
            ln p_target(bucket(token)) - ln p_raw(bucket(token))

    Positive = the document looks more like the target domain than like
    the raw corpus; selecting the top mass by this score (or Gumbel-
    resampling with it) is the standard pretraining data-selection
    recipe when a small high-quality target set exists. Length-
    normalized (mean, not sum) so the score ranks content, not length.

    Returns (id, n_tokens, importance) for every input document;
    importance is NULL for token-less documents (no evidence either way).
    The (id, bucket, tf) relation is persisted and rides on the result
    as ``owned_storage`` (two consumers — the raw LM and the score
    join); release via ``dedup.release_owned_storage`` when done.

    Scale shape (100 TB raw corpus, small target):
    - both LMs are ONE token-explode into a map-side-combined groupBy on
      a fixed-width bucket long — the partial agg collapses each task's
      tokens to <= n_buckets rows, so the shuffle is executors x
      n_buckets rows no matter the corpus size;
    - the per-bucket log-ratio table is n_buckets rows — broadcast;
    - the per-doc score reuses the (id, bucket) tf relation (map-side
      combined, fixed-width keys) + one per-doc sum. No Python anywhere.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (unsmoothed zero-count "
                         f"buckets would yield ln(0)), got {alpha}")

    def bucket_counts(src: DataFrame) -> DataFrame:
        # the target needs nothing but a text column — its per-doc
        # identity is irrelevant to the LM
        toks = tokens_array(F.col(text_col))
        return (src.select(F.explode(toks).alias("__t"))
                .select(hashed_token_bucket(F.col("__t"),
                                            n_buckets).alias("b"))
                .groupBy("b").agg(F.count("*").alias("c")))

    toks = tokens_array(F.col(text_col))
    # the (id, bucket, tf) relation feeds BOTH the raw LM and the final
    # score join; without a persist the tokenize+explode (the dominant
    # cost) executes twice. Fixed-width rows only (id + two longs — the
    # round-2 jaccard lesson: never cache token text). Rides on the
    # result as owned_storage; callers release when done.
    from pyspark import StorageLevel
    raw_tf = (df.select(F.col(id_col).alias("id"),
                        F.explode(toks).alias("__t"))
              .select("id", hashed_token_bucket(F.col("__t"),
                                                n_buckets).alias("b"))
              .groupBy("id", "b").agg(F.count("*").alias("tf"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    # ln p(b) = ln(c_b + alpha) - ln(total + alpha * n_buckets); the
    # ratio table keeps the two LMs' terms separate until one subtract
    # per bucket, replayed in the same association order by the oracle
    from pyspark.sql import Window

    a = float(alpha)
    an = a * n_buckets
    # raw_counts: a precomputed raw-corpus bucket LM — (b, c), e.g.
    # sources/stats_store.bucket_counts_from_store over the incremental
    # token store — so scoring a NEW batch costs O(batch + n_buckets)
    # instead of a raw-corpus rescan. Must be built with the same
    # n_buckets and cover the corpus the scores are relative to; by
    # default the raw LM comes from df itself, exactly as before.
    raw_lm = (raw_counts.select("b", F.col("c").cast("long").alias("cr"))
              if raw_counts is not None
              else raw_tf.groupBy("b").agg(F.sum("tf").alias("cr")))
    tgt_lm = bucket_counts(target).withColumnRenamed("c", "ct")
    raw_tot = F.sum("cr").over(Window.partitionBy())
    tgt_tot = F.sum("ct").over(Window.partitionBy())
    # the ratio table spans the FULL bucket range 0..n_buckets-1, not
    # just buckets seen in raw_lm/tgt_lm: smoothing defines a
    # probability for every bucket, and a batch scored against a
    # precomputed raw_counts LM may contain buckets neither LM has seen
    # — those must get the smoothed floor, not be silently dropped from
    # the score (which under-reported n_tokens and skewed importance)
    buckets = (df.sparkSession.range(int(n_buckets))
               .select(F.col("id").cast("long").alias("b")))
    ratio = (buckets.join(raw_lm, "b", "left").join(tgt_lm, "b", "left")
             .withColumn("cr", F.coalesce("cr", F.lit(0)))
             .withColumn("ct", F.coalesce("ct", F.lit(0)))
             .withColumn("lr",
                         (F.log(F.col("ct") + a) - F.log(tgt_tot + an))
                         - (F.log(F.col("cr") + a) - F.log(raw_tot + an)))
             .select("b", "lr"))
    scored = (raw_tf.join(F.broadcast(ratio), "b")
              .groupBy("id")
              .agg(F.sum("tf").cast("long").alias("n_tokens"),
                   F.round(F.sum(F.col("tf") * F.col("lr"))
                           / F.sum("tf"), 6).alias("importance")))
    base = df.select(F.col(id_col).alias("id"))
    from pdf_parser_spark.operators.dedup import _own
    return _own(base.join(scored, "id", "left")
                .select("id",
                        F.coalesce("n_tokens", F.lit(0)).cast("long")
                         .alias("n_tokens"),
                        "importance"),
                raw_tf)


def gumbel_topk_sample(df: DataFrame, k: int, weight_col: str, *,
                       id_col: str = "doc_id", salt: str = "gumbel",
                       temperature: float = 1.0) -> DataFrame:
    """Deterministic Gumbel top-k: sample ``k`` rows WITHOUT replacement
    from softmax(weight / temperature) — the resampling half of DSIR
    (Xie et al. 2023 select with importance + Gumbel noise; the Gumbel
    top-k trick is Vieira 2014 / Kool et al. 2019). ``weight_col`` is a
    LOG-weight (dsir_importance's log-ratio plugs in directly).

        key = weight / temperature - ln(-ln(u)),   u = md5-uniform(id)

    The noise is the engine-wide deterministic md5 hash of (salt, id)
    mapped into (0, 1) — so the drawn set is a pure function of
    (corpus, weights, salt, k): reproducible across runs, engines and
    cluster sizes, and auditable row by row. Rows with NULL weight carry
    no evidence and are excluded (DSIR's token-less documents).

    Returns the k winners: (id, weight, gumbel_key, rank), rank 1-based
    by descending key.

    Scale: the key is one codegen expression; top-k is Spark's
    TakeOrderedAndProject (per-partition heaps + driver merge of k per
    partition — no global sort, no shuffle of the corpus). Bounded-k
    selection only: for "sample 1% of 10^12 rows" use the weight as a
    threshold instead (keep key >= cutoff), or token_budget_select for
    budget-shaped draws.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    # 60-bit md5 prefix -> u in (0, 1) open on both ends ((h+1) of 2^60+1
    # never hits 0 or 1, so ln(-ln(u)) is always finite)
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(salt),
                          F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("double")
    u = (h + 1.0) / float((1 << 60) + 1)
    key = (F.col(weight_col) / float(temperature)) - F.log(-F.log(u))
    out = (df.where(F.col(weight_col).isNotNull())
           .select(F.col(id_col).alias("id"),
                   F.col(weight_col).alias("weight"),
                   F.round(key, 6).alias("gumbel_key"))
           .orderBy(F.col("gumbel_key").desc(), F.col("id"))
           .limit(int(k)))
    from pyspark.sql import Window
    # rank over the k winners only — a k-row single-partition window,
    # the offsets-table kind of smallness, not a data window
    w = Window.orderBy(F.col("gumbel_key").desc(), F.col("id"))
    return out.withColumn("rank", F.row_number().over(w))


def curriculum_order(df: DataFrame, bands: int = 10, *,
                     quality_col: str = "quality_score",
                     id_col: str = "doc_id",
                     salt: str = "curriculum",
                     n_cuts: int = 256,
                     prefix_len: int = 2) -> DataFrame:
    """Easy-to-hard curriculum schedule: ntile ``bands`` over the
    quality score (descending — band 1 is the highest-quality decile),
    then a deterministic seed-keyed shuffle WITHIN each band so the
    schedule carries no within-band ordering bias. Appends (band,
    position); position is the global training order.

    The schedule never sorts the corpus on one task:

    1. **Rank.** Quality is range-bucketed against broadcast
       ``percentile_approx`` cut points (``n_cuts`` buckets). Bucket
       boundaries only move LOAD, never answers: within each bucket a
       partitioned window ranks by (quality DESC, id ASC) exactly, and
       a broadcast running offset of the per-bucket counts (an
       n_cuts-row table) lifts local ranks to the exact global rank.
    2. **Band.** ntile is a pure function of (rank, total, bands) —
       the first ``total % bands`` tiles get ``total div bands + 1``
       rows, the rest ``total div bands`` — so banding becomes one
       codegen CASE expression against the broadcast total.
    3. **Position.** row_number over (band, md5 shuffle key) factors
       by the key's hex prefix exactly as ``_with_global_order``:
       per-(band, prefix) windows + a broadcast offset table of
       ``bands * 16^prefix_len`` rows.

    Every unpartitioned window in the plan runs over an aggregated
    offsets table (asserted by plancheck.unpartitioned_corpus_windows
    in tests). tests/test_curation_ops.py holds the two-global-window
    rendition that pins the semantics, and asserts equality with it.
    Ties on quality are exact (the in-bucket window carries the id
    tiebreak); heavily-tied scores only skew bucket LOAD, bounded by the
    worst single value's frequency.

    NULL quality orders last (both Spark's DESC and DuckDB's default),
    implemented as bucket -1.
    """
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    from pyspark.sql.window import Window

    key = F.md5(F.concat(F.lit(f"{salt}:"),
                         F.col(id_col).cast("string")))
    if n_cuts < 1:
        raise ValueError(f"n_cuts must be >= 1, got {n_cuts}")

    out_cols = list(df.columns)

    # -- 1. exact global rank under (quality DESC, id ASC) ---------------
    probs = [i / n_cuts for i in range(1, n_cuts)]
    cuts = []
    if probs:
        row = df.agg(F.percentile_approx(
            F.col(quality_col), probs, 10_000).alias("b")).collect()[0]["b"]
        # percentile_approx over an all-NULL / empty column yields NULL
        cuts = sorted({float(b) for b in (row or []) if b is not None})
    # ascending-quality bucket id; exactness never depends on the cuts
    if cuts:
        cut_arr = F.array(*[F.lit(c) for c in cuts])
        qb = F.size(F.filter(cut_arr,
                             lambda c: F.col(quality_col) > c))
    else:
        qb = F.lit(0)
    qb = F.when(F.col(quality_col).isNull(), F.lit(-1)).otherwise(qb)

    base = (df.withColumn("__ck", key)
            .withColumn("__qb", qb.cast("int")))
    w_in = (Window.partitionBy("__qb")
            .orderBy(F.desc(quality_col), F.asc(id_col)))
    base = base.withColumn("__rl", F.row_number().over(w_in))

    per_qb = base.groupBy("__qb").agg(F.count("*").alias("__n"))
    # offsets in DESC bucket order (highest quality first); the
    # unpartitioned window runs over <= n_cuts+1 aggregated rows
    w_off = (Window.orderBy(F.desc("__qb"))
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = per_qb.select(
        "__qb", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"))
    total = per_qb.agg(F.sum("__n").cast("long").alias("__tot"))
    base = (base.join(F.broadcast(offs), "__qb")
            .crossJoin(F.broadcast(total))
            .withColumn("__rk", (F.col("__off") + F.col("__rl"))
                        .cast("long")))

    # -- 2. band = ntile(bands) as a pure function of (__rk, __tot) ------
    b = int(bands)
    band = F.expr(
        f"CASE WHEN __rk <= (__tot % {b}) * ((__tot div {b}) + 1) "
        f"THEN (__rk - 1) div ((__tot div {b}) + 1) + 1 "
        f"ELSE (__tot % {b}) "
        f"  + (__rk - (__tot % {b}) * ((__tot div {b}) + 1) - 1) "
        f"    div (__tot div {b}) + 1 END").cast("int")
    base = base.withColumn("band", band)

    # -- 3. position = row_number over (band, __ck), prefix-decomposed ---
    base = base.withColumn("__pg", F.substring("__ck", 1, prefix_len))
    w_pos = (Window.partitionBy("band", "__pg")
             .orderBy("__ck", id_col))
    base = base.withColumn("__pl", F.row_number().over(w_pos))
    per_pg = base.groupBy("band", "__pg").agg(F.count("*").alias("__pn"))
    w_poff = (Window.orderBy("band", "__pg")
              .rowsBetween(Window.unboundedPreceding, -1))
    poffs = per_pg.select(
        "band", "__pg",
        F.coalesce(F.sum("__pn").over(w_poff), F.lit(0)).alias("__poff"))
    base = base.join(F.broadcast(poffs), ["band", "__pg"])
    return (base.withColumn("position",
                            (F.col("__poff") + F.col("__pl")).cast("int"))
            .select(*out_cols, "band", "position"))
