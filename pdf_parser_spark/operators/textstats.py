"""Text-analysis operators for large-scale training-data pipelines.

Language ID (n-gram/stopword heuristic), quality scoring, token counting,
and document fingerprinting over a text column. Everything that CAN be a
JVM-side column expression IS one (whole-stage codegen, no Python in the
hot path); only language ID and the rolling-hash fingerprint — genuinely
per-string loops — are Arrow-batched pandas UDFs backed by shared pure-
Python functions (same functions the pytest oracles call).

The reference's closest analog is its char-count bookkeeping
(reference pdf_parser.py:55,138-148) and keyword scoring
(reference gea_qa_agent.py:332-352); the rest is the graft's
training-pipeline extension surface.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# tokenization is ASCII-whitespace EVERYWHERE in this engine: JVM split
# on \s+ (Java: ASCII), DuckDB string_split_regex '\s+' (RE2: ASCII), and
# Python via this regex (re.ASCII — NOT str.split(), whose Unicode
# White_Space set would silently disagree with both engines on U+3000 /
# U+00A0 and friends)
_WS_ASCII = re.compile(r"\s+", re.ASCII)


def ascii_tokens(text: str) -> list[str]:
    """Whitespace tokens under the engine-wide ASCII-\\s+ convention."""
    return [t for t in _WS_ASCII.split(text) if t]


# --- token counting (pure expressions; C1-analog guards for null/empty) ---


def token_count(col: Column) -> Column:
    """Whitespace token count as a JVM expression (0 for null/empty)."""
    trimmed = F.trim(F.coalesce(col, F.lit("")))
    return F.when(F.length(trimmed) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(trimmed, r"\s+")))


def tokens_array(col: Column) -> Column:
    """Non-empty tokens of a string column under the engine-wide
    ASCII-\\s+ convention, as ONE reusable array expression — the single
    definition every token-exploding operator (tf-idf, heavy hitters)
    shares, so the convention cannot silently fork per call site."""
    return F.filter(F.split(F.trim(F.coalesce(col, F.lit(""))), r"\s+"),
                    lambda t: F.length(t) > 0)


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: word pieces + digits + punctuation runs.

    Semantics of ``[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\\s]`` — every 1-4
    letter piece, digit, or symbol counts one token (a cheap, deterministic
    stand-in for a real BPE vocab). Decomposed into positive-ASCII atoms:
    letter pieces + digits + (chars - alnum - ASCII-ws). Exactly the
    alternation's match count (letter runs consume greedily 4 at a time =
    ceil(run/4) either way; digits and symbols match singly), but avoids
    any regex atom that can MATCH a non-ASCII character — measured ~20x
    slower on this engine (see quality_features).
    """
    c = F.coalesce(col, F.lit(""))
    return (F.regexp_count(c, F.lit(r"[a-zA-Z]{1,4}"))
            + F.regexp_count(c, F.lit(r"[0-9]"))
            + (F.length(c) - F.regexp_count(c, F.lit(r"[a-zA-Z0-9]"))
               - F.regexp_count(c, F.lit(r"\s"))))


# --- quality features / score (pure expressions) ---

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns, all JVM expressions.

    n_chars, n_tokens, avg_token_len, alnum_ratio, punct_ratio,
    stopword_ratio, quality_score in [0,1].
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(c)
    n_tokens = token_count(c)
    # positive-ASCII atoms ONLY: a regex atom that can MATCH a non-ASCII
    # character (negated classes like [^a-zA-Z0-9] on CJK-bearing text)
    # measured ~20-40x slower per expression on this engine (37.9s vs
    # 1.0-2.1s for the whole 646k-chunk pass). alnum is counted directly;
    # punct falls out by identity: every char is alnum, ASCII-\s, or
    # "other" (= the old remove-[a-zA-Z0-9\s] definition, CJK included) —
    # bit-identical values, pinned by the docs_text_statistics_full oracle
    alnum = F.regexp_count(c, F.lit(r"[a-zA-Z0-9]"))
    punct = n_chars - alnum - F.regexp_count(c, F.lit(r"\s"))
    stop_pattern = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    stopwords = F.regexp_count(F.lower(c), F.lit(stop_pattern))

    nz = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(1.0))
    ntz = F.when(n_tokens > 0, n_tokens.cast("double")).otherwise(F.lit(1.0))

    out = (df
           .withColumn("n_chars", n_chars)
           .withColumn("n_tokens", n_tokens)
           .withColumn("avg_token_len",
                       F.round((alnum.cast("double") / ntz), 6))
           .withColumn("alnum_ratio", F.round(alnum / nz, 6))
           .withColumn("punct_ratio", F.round(punct / nz, 6))
           .withColumn("stopword_ratio",
                       F.round(stopwords.cast("double") / ntz, 6)))
    # bounded additive score: length signal + density - punctuation excess
    length_sig = F.least(F.col("n_tokens").cast("double") / F.lit(100.0), F.lit(1.0))
    score = (F.lit(0.4) * length_sig
             + F.lit(0.4) * F.col("alnum_ratio")
             + F.lit(0.2) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 4,
                                                  F.lit(1.0))))
    return out.withColumn("quality_score", F.round(score, 6))


# --- language ID (shared pure-Python heuristic + Arrow-batched UDF) ---

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "with", "for", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "los", "que", "de", "es", "una", "para"),
    "fr": ("le", "les", "des", "que", "est", "une", "dans", "pour"),
}


def lang_id_py(text: str | None) -> str:
    """Heuristic language ID: CJK codepoint share, else stopword votes."""
    if not text:
        return "und"
    cjk = sum(1 for ch in text if "一" <= ch <= "鿿")
    if cjk / max(len(text), 1) > 0.05:
        return "zh"
    tokens = ascii_tokens(text.lower())
    if not tokens:
        return "und"
    counts = {lang: sum(1 for t in tokens if t in markers)
              for lang, markers in _LANG_MARKERS.items()}
    best = max(counts, key=lambda k: (counts[k], k))
    return best if counts[best] > 0 else "und"


def _lang_id_series(s: pd.Series) -> pd.Series:
    return s.map(lang_id_py)


lang_id_udf = pandas_udf(_lang_id_series, StringType())


# --- fingerprinting ---


def fingerprint_py(text: str | None, window: int = 8) -> str:
    """Rolling-hash document fingerprint (pure Python, oracle-shared).

    Rabin-Karp over tokens: hash every ``window``-token span, keep the
    minimum (a winnowing-style representative), hex-encoded.
    """
    if not text:
        return ""
    tokens = ascii_tokens(text)
    if not tokens:
        return ""
    if len(tokens) < window:
        spans = [" ".join(tokens)]
    else:
        spans = [" ".join(tokens[i:i + window])
                 for i in range(len(tokens) - window + 1)]
    return min(hashlib.md5(s.encode("utf-8")).hexdigest() for s in spans)


def _fingerprint_series(s: pd.Series) -> pd.Series:
    return s.map(fingerprint_py)


fingerprint_udf = pandas_udf(_fingerprint_series, StringType())


def md5_fingerprint(col: Column, length: int = 16) -> Column:
    """Exact-content fingerprint as a JVM expression — built-in md5 matches
    hashlib (reference chunk ids: md5(...)[:16], gea_qa_agent.py:109)."""
    return F.substring(F.md5(F.coalesce(col, F.lit(""))), 1, length)


def text_statistics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full text-analysis projection: quality + lang + fingerprints.

    lang-ID and the winnowing fingerprint are Arrow-batched pandas UDFs,
    the only path: Catalyst higher-order-array renditions of both were
    measured ~8x slower on 646k chunks (32-34 s vs ~4 s, identical
    outputs) because higher-order array expressions run interpreted
    (CodegenFallback) with per-element boxing, so "UDFs are the slow
    path" is inverted here — measured, not assumed."""
    return (quality_features(df, text_col)
            .withColumn("lang_pred", lang_id_udf(F.col(text_col)))
            .withColumn("fingerprint", fingerprint_udf(F.col(text_col)))
            .withColumn("content_id", md5_fingerprint(F.col(text_col))))


# --- TF-IDF -----------------------------------------------------------------


def tf_idf_top_terms(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 5,
                     min_df: int = 2) -> DataFrame:
    """Per-document top-k terms by tf-idf over the whole corpus.

    (id, term, tf, df, tf_idf, rank) with tf_idf = round(tf * ln(N/df), 6)
    and rank the per-document position under (tf_idf DESC, term ASC) —
    deterministic ties. Terms in fewer than ``min_df`` documents are
    dropped (hapax noise); N counts every document, including empty ones.

    Scale shape: one token explode (the corpus-sized stream), two
    map-side-combined groupBys (term frequency per doc; document
    frequency per term), a key-partitioned join on ``term`` (the
    vocabulary is corpus-scale — never broadcast it), the 1-row corpus
    count broadcast, and one per-document window for the top-k. The
    tokenizer is the engine-wide ASCII-\\s+ convention (see module
    header), so DuckDB recomputes every value (DOCS_TFIDF_SQL).
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens_array(F.col(text_col))).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dft = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .where(F.col("df") >= min_df))
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (tf.join(dft, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tf_idf",
                          F.round(F.col("tf")
                                  * F.log(F.col("n_docs").cast("double")
                                          / F.col("df")), 6)))
    w = Window.partitionBy("id").orderBy(F.desc("tf_idf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("id").alias(id_col), "term", "tf", "df",
                    "tf_idf", "rank"))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    counts: DataFrame | None = None,
                    unseen_count: float = 1.0) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the oracle-checkable degenerate of the CCNet/KenLM
    perplexity quality filter (Wenzek et al. 2020): docs whose tokens
    are corpus-typical score high, gibberish and boilerplate-of-rare-
    symbols score low, and a keep-band on ``avg_logprob`` is the filter
    (perplexity = exp(-avg_logprob), monotone — the band thresholds
    translate directly, so the engine never computes exp and stays
    bit-mirrorable).

    Returns (id, n_tokens, avg_logprob) with avg_logprob =
    round(sum(tf * ln(c_term / T)) / sum(tf), 6), NULL for token-free
    docs (they have no LM evidence either way).

    Scale shape: one token explode collapsed immediately to per-(doc,
    term) counts (map-side combine), vocabulary = one more groupBy of
    that relation, a key-partitioned join on term (corpus-scale
    vocabulary — never broadcast), and the grand total T — ONE long —
    collected to the driver as a literal (the k-centroid kind of
    collect). The tf-weighted sum means the corpus-sized token stream
    is aggregated once and never rejoined.
    """
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens_array(F.col(text_col))).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    # counts: a precomputed corpus (term, c) relation — the
    # incrementally-maintained store (sources/stats_store.py), so
    # scoring a new batch costs O(batch + vocabulary), not a corpus
    # rescan. A new batch may carry vocabulary the store hasn't merged
    # yet; LEFT join + the ``unseen_count`` floor keeps those tokens in
    # the score (an inner join silently dropped them, under-reporting
    # n_tokens and averaging over a subset). By default the LM is
    # derived from df itself — every batch term present, floor unused.
    if unseen_count <= 0:
        raise ValueError(f"unseen_count must be > 0 (ln(0) is "
                         f"undefined), got {unseen_count}")
    vocab = (counts.select("term", F.col("c").cast("long").alias("c"))
             if counts is not None
             else tf.groupBy("term").agg(F.sum("tf").alias("c")))
    total = vocab.agg(F.sum("c")).collect()[0][0]
    if total is None:
        base = df.select(F.col(id_col).alias("id"))
        return base.select("id", F.lit(0).cast("long").alias("n_tokens"),
                           F.lit(None).cast("double").alias("avg_logprob"))
    c_eff = F.coalesce(F.col("c").cast("double"),
                       F.lit(float(unseen_count)))
    scored = (tf.join(vocab, "term", "left")
              .groupBy("id")
              .agg(F.sum("tf").alias("n_tokens"),
                   F.round(F.sum(F.col("tf")
                                 * F.log(c_eff / F.lit(float(total))))
                           / F.sum("tf"), 6).alias("avg_logprob")))
    base = df.select(F.col(id_col).alias("id"))
    return (base.join(scored, "id", "left")
            .select("id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    "avg_logprob"))


def token_entropy(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats).

    (id, n_tokens, n_distinct, entropy) with
    entropy = round(ln(n) - sum(tf * ln(tf)) / n, 6) over the document's
    own token frequencies — the standard template/gibberish signal:
    "batch batch batch" scores 0, fully-distinct text scores ln(n).
    Complements the Gopher repetition fractions (which look at lines and
    top grams) with a whole-distribution number. Token-less documents
    report NULL entropy (no distribution to measure).

    Scale: one token explode into a map-side-combined (id, term) count,
    then one per-doc aggregate of fixed-width rows; the ln(n) - S/n form
    keeps every per-term term integer-argument (ln(tf)), so the DuckDB
    oracle replays it exactly (same association order).
    """
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(tokens_array(F.col(text_col))).alias("t"))
    tf = toks.groupBy("id", "t").agg(F.count("*").alias("tf"))
    per_doc = (tf.groupBy("id")
               .agg(F.sum("tf").cast("long").alias("n_tokens"),
                    F.count("*").cast("long").alias("n_distinct"),
                    F.round(F.log(F.sum("tf").cast("double"))
                            - F.sum(F.col("tf")
                                    * F.log(F.col("tf").cast("double")))
                            / F.sum("tf"), 6).alias("entropy")))
    base = df.select(F.col(id_col).alias("id"))
    return (base.join(per_doc, "id", "left")
            .select("id",
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                     .alias("n_tokens"),
                    F.coalesce("n_distinct", F.lit(0)).cast("long")
                     .alias("n_distinct"),
                    "entropy"))


# --- URL / domain extraction and blocklist filtering -------------------------

# one regex, two engines: Java (Spark codegen) and RE2 (DuckDB) agree on
# this subset — no backrefs, no lookaround, character classes only.
# Deliberately greedy-simple: a URL runs to the next whitespace, matching
# how crawl-pipeline blocklists key on the raw token.
URL_REGEX = r"https?://[^\s]+"
# capture the host: scheme :// then everything up to the first / ? # or
# end; the port stays (blocklists that care strip it themselves)
_HOST_REGEX = r"https?://([^/?#\s]+)"


def extract_urls(col: Column) -> Column:
    """All http(s) URLs of a text column, as an array expression."""
    return F.regexp_extract_all(F.coalesce(col, F.lit("")),
                                F.lit(URL_REGEX), F.lit(0))


def url_domains(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, url, domain) — one row per URL occurrence, document order.

    The domain is lowercased host (port kept). The relation a link-graph
    or blocklist pass consumes; documents without URLs emit no rows.
    """
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(extract_urls(F.col(text_col))).alias("url"))
            .select("id", "url",
                    F.lower(F.regexp_extract(F.col("url"), _HOST_REGEX, 1))
                     .alias("domain")))


def domain_blocklist_filter(df: DataFrame, blocked_domains, *,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            max_inline: int = 1000) -> DataFrame:
    """UT1-style domain blocklist pass: per document, count URLs and
    blocked-domain hits and flag survivors.

    (id, n_urls, n_blocked, blocked) — blocked is TRUE when any URL's
    domain (or a parent registrable suffix of it) is on the list, i.e.
    ``ads.example.com`` is blocked by ``example.com``. Documents with
    no URLs survive with zeros.

    Two physical paths, identical answers (equality-pinned in tests):
    up to ``max_inline`` domains the membership test is one isin over
    the exploded suffix chain — pure codegen on one scan. Beyond that
    (UT1 is ~4M lines), an isin literal of millions of values blows up
    plan construction and codegen long before data moves, so the list
    becomes a broadcast DataFrame instead: distinct (id, domain) pairs
    explode their suffix chains and LEFT SEMI join the broadcast list —
    still one scan of the corpus, one broadcast, one per-doc aggregate.
    """
    blocked = sorted({d.lower() for d in blocked_domains})
    if not blocked:
        raise ValueError("blocked_domains must name at least one domain: "
                         "an empty blocklist silently blocks nothing")
    urls = url_domains(df, id_col, text_col)
    # suffix chain: ads.example.com -> [ads.example.com, example.com, com]
    parts = F.split(F.col("domain"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."))
    if len(blocked) <= max_inline:
        hit = F.exists(suffixes, lambda s: s.isin(*blocked))
        per_doc = (urls.withColumn("__hit", hit)
                   .groupBy("id")
                   .agg(F.count("*").alias("n_urls"),
                        F.sum(F.col("__hit").cast("int")).alias("n_blocked")))
    else:
        # hit-ness depends only on the domain, so collapse occurrences
        # first: the explode+join runs over distinct (id, domain), not
        # every URL occurrence
        dom = urls.groupBy("id", "domain").agg(F.count("*").alias("__occ"))
        bl = urls.sparkSession.createDataFrame(
            [(d,) for d in blocked], "__bd string")
        hit_dom = (dom.select("id", "domain",
                              F.explode(suffixes).alias("__s"))
                   .join(F.broadcast(bl), F.col("__s") == F.col("__bd"),
                         "left_semi")
                   .select("id", "domain").distinct()
                   .withColumn("__hit", F.lit(1)))
        per_doc = (dom.join(hit_dom, ["id", "domain"], "left")
                   .groupBy("id")
                   .agg(F.sum("__occ").alias("n_urls"),
                        F.sum(F.when(F.col("__hit") == 1, F.col("__occ"))
                              .otherwise(0)).alias("n_blocked")))
    base = df.select(F.col(id_col).alias("id"))
    return (base.join(per_doc, "id", "left")
            .select("id",
                    F.coalesce("n_urls", F.lit(0)).cast("long")
                     .alias("n_urls"),
                    F.coalesce("n_blocked", F.lit(0)).cast("long")
                     .alias("n_blocked"),
                    (F.coalesce("n_blocked", F.lit(0)) > 0)
                     .alias("blocked")))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   alpha: float = 0.1) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-alpha-smoothed bigram LM — one rung up the KenLM ladder from
    :func:`unigram_logprob` (the CCNet quality filter, Wenzek et al.
    2020): repeated-template and shuffled-word documents separate here
    where unigram statistics cannot see word ORDER at all.

        score(doc) = mean over its bigram instances of
            ln (c(w1 w2) + alpha) - ln (c1(w1) + alpha * V)

    with c(w1 w2) the corpus bigram count, c1(w1) the count of w1 AS A
    CONTEXT (= sum of its bigram counts, so conditionals normalize), and
    V the corpus vocabulary size. Documents with < 2 tokens carry no
    bigram evidence and report NULL.

    Returns (id, n_bigrams, avg_logprob); the per-doc (context, bigram)
    tf relation is persisted (fixed-width md5-prefix longs, never gram
    text — the jaccard-cache lesson) and rides on the result as
    ``owned_storage``; release via ``dedup.release_owned_storage``.

    Scale shape: bigrams come from ONE array transform + explode (no
    positional self-join); corpus counts are map-side-combined groupBys
    on 60-bit longs; the count joins are key-partitioned on those longs
    (the vocabulary is corpus-scale — never broadcast it); V is a 1-row
    broadcast. No Python anywhere.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (unsmoothed unseen bigrams "
                         f"would yield ln(0)), got {alpha}")
    from pyspark import StorageLevel

    def h(col: Column) -> Column:
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    toks = tokens_array(F.col(text_col))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            h(F.element_at(toks, i)).alias("h1"),
            h(F.concat_ws(" ", F.element_at(toks, i),
                          F.element_at(toks, i + 1))).alias("h2")))
    big_tf = (df.where(F.size(toks) >= 2)
              .select(F.col(id_col).alias("id"),
                      F.explode(pairs).alias("p"))
              .select("id", F.col("p.h1").alias("h1"),
                      F.col("p.h2").alias("h2"))
              .groupBy("id", "h1", "h2").agg(F.count("*").alias("tf"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    c2 = big_tf.groupBy("h1", "h2").agg(F.sum("tf").alias("c2"))
    c1 = c2.groupBy("h1").agg(F.sum("c2").alias("c1"))
    vocab = (df.select(F.explode(tokens_array(F.col(text_col)))
                       .alias("t"))
             .agg(F.countDistinct("t").cast("double").alias("v")))
    a = float(alpha)
    scored = (big_tf
              .join(c2, ["h1", "h2"])
              .join(c1, "h1")
              .crossJoin(F.broadcast(vocab))
              .groupBy("id")
              .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                   F.round(F.sum(F.col("tf")
                                 * (F.log(F.col("c2") + a)
                                    - F.log(F.col("c1") + a * F.col("v"))))
                           / F.sum("tf"), 6).alias("avg_logprob")))
    base = df.select(F.col(id_col).alias("id"))
    from pdf_parser_spark.operators.dedup import _own
    return _own(base.join(scored, "id", "left")
                .select("id",
                        F.coalesce("n_bigrams", F.lit(0)).cast("long")
                         .alias("n_bigrams"),
                        "avg_logprob"),
                big_tf)


def bm25_topk(df: DataFrame, query_terms: list[str],
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75, k: int = 10) -> DataFrame:
    """Top-k documents under Okapi BM25 for a bag of query terms — the
    standard lexical ranking function (Robertson et al., TREC-3), the
    rung above the reference's additive contains() scoring
    (gea_qa_agent.py:332-352) and this engine's tf-idf:

        score(d) = sum over query terms t of
            idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))   [Lucene form,
                                                          always >= 0]

    with dl the document's token count and avgdl the corpus mean (both
    under the engine-wide ASCII-\\s+ convention). Returns
    (id, bm25, rank), rank deterministic under (bm25 DESC, id ASC).

    Scale shape: the token stream is filtered to query terms INSIDE the
    array expression BEFORE the explode, so the only corpus-sized work
    is the per-doc length — a pure expression on the scan, no shuffle.
    The (doc, term) tf relation is query-sized; df-per-term and the
    (N, avgdl) row are broadcast; the dl join is key-partitioned on id.
    Top-k is a single TakeOrderedAndProject, never a full sort.
    """
    toks = tokens_array(F.col(text_col))
    lengths = df.select(F.col(id_col).alias("id"),
                        F.size(toks).alias("dl"))
    stats = lengths.agg(F.count("*").cast("double").alias("n_docs"),
                        F.avg("dl").alias("avgdl"))
    qtf = (df.select(F.col(id_col).alias("id"),
                     F.explode(F.filter(
                         toks, lambda t: t.isin(*query_terms)))
                      .alias("term"))
           .groupBy("id", "term").agg(F.count("*").alias("tf")))
    dft = qtf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = (F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b
                                   + b * F.col("dl") / F.col("avgdl"))))
    scored = (qtf.join(F.broadcast(dft), "term")
              .join(lengths, "id")
              .crossJoin(F.broadcast(stats))
              .groupBy("id")
              .agg(F.round(F.sum(idf * norm), 6).alias("bm25")))
    from pyspark.sql.window import Window

    # limit BEFORE ranking: sort+limit compiles to TakeOrderedAndProject
    # (per-partition top-k, tiny driver merge); the row_number window then
    # runs over k rows, not the corpus
    topk = scored.orderBy(F.desc("bm25"), F.asc("id")).limit(k)
    return (topk
            .withColumn("rank",
                        F.row_number().over(
                            Window.orderBy(F.desc("bm25"), F.asc("id"))))
            .select(F.col("id").alias(id_col), "bm25",
                    F.col("rank").cast("int").alias("rank")))
