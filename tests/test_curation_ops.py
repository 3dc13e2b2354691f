"""Curation-operator tests: decontamination, repetition filters, PII
redaction, deterministic global shuffle, and sequence packing.

The driver-contract twin (test_driver_contract.py) already checks the
five query entries against DuckDB; these tests pin the operator-level
semantics directly — hand-computed examples, and the packing/shuffle
invariants that the SQL oracle can't state (determinism across
partitionings, stream contiguity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators.curation import (decontaminate,
                                                 global_shuffle,
                                                 pack_sequences, pii_redact,
                                                 repetition_counts_py,
                                                 repetition_features)

REP_COLS = ["n_lines", "dup_line_frac", "dup_line_char_frac",
            "top_bigram_char_frac", "top_trigram_char_frac"]

TRICKY_DOCS = [
    (0, None),
    (1, ""),
    (2, "   \n\t\n  "),                       # blank-only lines
    (3, "one line only"),
    (4, "dup\ndup\ndup\nunique"),             # heavy line repetition
    (5, "a b a b a b a b"),                   # dominant bigram
    (6, "x y z x y z x y z"),                 # dominant trigram
    (7, "aa bb\naa bb\ncc dd"),               # line + gram repeats interact
    (8, "tie a tie b"),                       # gram-count ties -> lex max
    (9, "中文 文本 中文 文本 混合 english text"),  # CJK tokens
    (10, "word"),                             # below every gram width
    (11, " \n "),                   # U+00A0 lines: NOT Java-blank
]


@pytest.fixture(scope="module")
def tricky(spark):
    return spark.createDataFrame(TRICKY_DOCS, "doc_id int, text string")


def _rows(df):
    return {r["doc_id"]: tuple(r[c] for c in REP_COLS)
            for r in df.select("doc_id", *REP_COLS).collect()}


def test_repetition_features_match_counts_py(tricky):
    # the UDF's JVM-side fractions over the edge rows equal the same
    # fractions derived from the pure-Python counts
    def fracs(text):
        n_lines, n_dup, lc, dc, bi, tri, n_chars = repetition_counts_py(text)
        nl, nc, nz = (max(n_lines, 1), max(lc, 1), max(n_chars, 1))
        return (n_lines, n_dup / nl, dc / nc, bi / nz, tri / nz)

    got = _rows(repetition_features(tricky))
    for doc_id, text in TRICKY_DOCS:
        assert got[doc_id] == pytest.approx(fracs(text), abs=1e-6), doc_id


def test_repetition_counts_py_hand_examples():
    # 4 lines, 'dup' x3 -> 2 dup lines; dup chars = 3*3 = 9 of 3+3+3+6=15
    n_lines, n_dup, lc, dc, _, _, _ = repetition_counts_py(
        "dup\ndup\ndup\nunique")
    assert (n_lines, n_dup, lc, dc) == (4, 2, 15, 9)
    # 'a b' bigram occurs 4x in 'a b a b a b a b' (overlapping windows:
    # 7 windows, 'a b' at 0,2,4,6) -> covered = 4 * 3 = 12 of 15 chars
    _, _, _, _, bi, tri, n_chars = repetition_counts_py("a b a b a b a b")
    assert (bi, n_chars) == (12, 15)
    # trigram 'x y z' occurs 3x (windows 0,3,6) -> 3 * 5 = 15 of 17
    _, _, _, _, _, tri, n_chars = repetition_counts_py("x y z x y z x y z")
    assert (tri, n_chars) == (15, 17)
    # space-only lines are blank, but a tab-only line is NOT (the
    # engine-portable space-only trim rule — see _TRIM_CHARS)
    assert repetition_counts_py("   \n\t\n  ") == (1, 0, 1, 0, 0, 0, 8)
    assert repetition_counts_py(None) == (0, 0, 0, 0, 0, 0, 0)


def test_repetition_gram_tie_breaks_to_lex_greatest():
    # 'tie a' and 'tie b'... actually windows of 'tie a tie b' are
    # 'tie a', 'a tie', 'tie b' — all count 1; lex-greatest wins
    _, _, _, _, bi, _, n_chars = repetition_counts_py("tie a tie b")
    assert bi == 1 * len("tie b") and n_chars == 11


def test_decontaminate_flags_only_overlapping_docs(spark):
    base = " ".join(f"w{i}" for i in range(13))          # one 13-gram
    docs = spark.createDataFrame(
        [(1, base + " extra tail tokens here"),           # contains eval gram
         (2, "completely different words " * 5),
         (3, base)],                                      # exact eval text
        "doc_id int, text string")
    ev = spark.createDataFrame([(100, base)], "doc_id int, text string")
    out = {r["doc_id"]: r for r in decontaminate(docs, ev, n=13).collect()}
    assert set(out) == {1, 3}
    # doc 3 is the eval text itself: 1 window, fully contaminated
    assert out[3]["n_grams"] == 1 and out[3]["n_contaminated"] == 1
    assert out[3]["contamination_ratio"] == 1.0
    # doc 1: 17 tokens -> 5 windows, only the first matches
    assert out[1]["n_grams"] == 5 and out[1]["n_contaminated"] == 1


def test_pii_redact_pinned_example(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b-c@ex.co ssn 123-45-6789 tel 555.123.4567 "
             "ip 10.0.0.255 end")],
        "doc_id int, text string")
    r = pii_redact(df).collect()[0]
    assert (r["n_email"], r["n_ssn"], r["n_phone"], r["n_ipv4"]) \
        == (1, 1, 1, 1)
    assert r["redacted_text"] == \
        "mail <EMAIL> ssn <SSN> tel <PHONE> ip <IP> end"


def test_pii_counts_are_on_original_text(spark):
    # counts are measured on the ORIGINAL text, so the SSN-shaped
    # substring inside the email counts for BOTH kinds — but redaction
    # is sequential (email first), so the replaced text has no SSN left
    df = spark.createDataFrame([(1, "x 123-45-6789@y.com z")],
                               "doc_id int, text string")
    r = pii_redact(df).collect()[0]
    assert (r["n_email"], r["n_ssn"]) == (1, 1)
    assert r["redacted_text"] == "x <EMAIL> z"


@pytest.fixture(scope="module")
def shuffle_docs(spark):
    rows = [(i, f"doc {i} " + "tok " * (i % 7)) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_global_shuffle_is_a_permutation_and_deterministic(shuffle_docs):
    out = global_shuffle(shuffle_docs, "doc_id", seed=3) \
        .select("doc_id", "shuffle_pos").collect()
    pos = sorted(r["shuffle_pos"] for r in out)
    assert pos == list(range(200))
    again = global_shuffle(shuffle_docs.repartition(7), "doc_id", seed=3) \
        .select("doc_id", "shuffle_pos").collect()
    assert {r["doc_id"]: r["shuffle_pos"] for r in out} \
        == {r["doc_id"]: r["shuffle_pos"] for r in again}
    other_seed = global_shuffle(shuffle_docs, "doc_id", seed=4) \
        .select("doc_id", "shuffle_pos").collect()
    assert {r["doc_id"]: r["shuffle_pos"] for r in out} \
        != {r["doc_id"]: r["shuffle_pos"] for r in other_seed}


def test_pack_sequences_stream_is_contiguous(shuffle_docs):
    rows = pack_sequences(shuffle_docs, budget=16, seed=3) \
        .select("doc_id", "shuffle_pos", "n_tokens", "start_offset",
                "seq_first", "seq_last", "n_seqs").collect()
    by_pos = sorted(rows, key=lambda r: r["shuffle_pos"])
    offset = 0
    for r in by_pos:
        assert r["start_offset"] == offset
        offset += r["n_tokens"]
        assert r["seq_first"] == r["start_offset"] // 16
        end = max(r["start_offset"] + r["n_tokens"] - 1, r["start_offset"])
        assert r["seq_last"] == end // 16
        assert r["n_seqs"] == r["seq_last"] - r["seq_first"] + 1
        assert r["n_seqs"] >= 1


def test_pack_sequences_zero_token_docs_take_no_space(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None), (4, "d e")],
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in pack_sequences(df, budget=4, seed=0)
            .collect()}
    assert rows[2]["n_tokens"] == 0 and rows[2]["n_seqs"] == 1
    assert rows[3]["n_tokens"] == 0 and rows[3]["n_seqs"] == 1
    total = sum(r["n_tokens"] for r in rows.values())
    assert max(r["start_offset"] + r["n_tokens"]
               for r in rows.values()) == total


def test_source_mix_resample_weights_and_copies(spark):
    from pdf_parser_spark.operators.curation import source_mix_resample
    # source A: 3 docs x 10 tokens = 30; source B: 1 doc x 10 tokens = 10
    # (total 40); source C is NOT in the spec and must vanish entirely
    ten = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, "A", ten), (2, "A", ten), (3, "A", ten),
         (4, "B", ten), (5, "C", ten)],
        "doc_id int, source string, text string")
    out = source_mix_resample(df, {"A": 0.5, "B": 0.5}).collect()
    assert all(r.source in ("A", "B") for r in out)
    # weight = share * total / src_tokens: A -> .5*40/30, B -> .5*40/10
    wa, wb = round(0.5 * 40 / 30, 6), round(0.5 * 40 / 10, 6)
    assert {r.weight for r in out if r.source == "A"} == {wa}
    assert {r.weight for r in out if r.source == "B"} == {wb}
    # B's weight is exactly 2.0: every B doc emits exactly 2 copies
    b_copies = sorted(r.copy_idx for r in out if r.source == "B")
    assert b_copies == [1, 2]
    # A's weight is fractional (<1): each A doc emits 0 or 1 copies,
    # decided by the deterministic id hash — rerun must agree exactly
    again = source_mix_resample(df, {"A": 0.5, "B": 0.5}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    assert all(r.copy_idx == 1 for r in out if r.source == "A")


def test_source_mix_resample_max_repeat_cap(spark):
    from pdf_parser_spark.operators.curation import source_mix_resample
    ten = " ".join(f"w{i}" for i in range(10))
    hundred = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, "big", hundred), (2, "tiny", ten)],
        "doc_id int, source string, text string")
    # tiny holds 10/110 tokens but is targeted at 90 % -> weight 9.9,
    # capped to 4 copies
    out = source_mix_resample(df, {"big": 0.1, "tiny": 0.9},
                              max_repeat=4).collect()
    tiny = [r for r in out if r.source == "tiny"]
    assert len(tiny) == 4 and sorted(r.copy_idx for r in tiny) == [1, 2, 3, 4]


def test_source_mix_resample_rejects_bad_spec(spark):
    from pdf_parser_spark.operators.curation import source_mix_resample
    df = spark.createDataFrame([(1, "A", "x")],
                               "doc_id int, source string, text string")
    with pytest.raises(ValueError):
        source_mix_resample(df, {})
    with pytest.raises(ValueError):
        source_mix_resample(df, {"A": -0.1})


def test_source_mix_resample_rejects_nonfinite_shares(spark):
    from pdf_parser_spark.operators.curation import source_mix_resample
    df = spark.createDataFrame([(1, "A", "x y z")],
                               "doc_id int, source string, text string")
    for bad in (float("nan"), float("inf")):
        with pytest.raises(ValueError):
            source_mix_resample(df, {"A": bad})


# ---------------------------------------------------------------------------
# token-budget selection
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def budget_docs(spark):
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(3 + (i * 7) % 9)))
            for i in range(40)] + [(40, ""), (41, None)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_token_budget_select_cut_semantics(budget_docs):
    from pdf_parser_spark.operators.curation import token_budget_select
    got = token_budget_select(budget_docs, 50, seed=3).collect()
    by_pos = sorted(got, key=lambda r: r.shuffle_pos)
    # the selected set is a PREFIX of the shuffle order: contiguous
    # positions from 0, offsets telescoping
    assert [r.shuffle_pos for r in by_pos] == list(range(len(by_pos)))
    off = 0
    for r in by_pos:
        assert r.start_offset == off
        off += r.n_tokens
    # every doc but the straddler fits whole; take_tokens sums to the
    # budget exactly when the corpus exceeds it
    clipped = [r for r in by_pos if r.clipped]
    assert len(clipped) <= 1
    assert all(r.take_tokens == r.n_tokens for r in by_pos if not r.clipped)
    assert sum(r.take_tokens for r in by_pos) == 50


def test_token_budget_select_budgets_nest(budget_docs):
    from pdf_parser_spark.operators.curation import token_budget_select
    small = {r.doc_id for r in
             token_budget_select(budget_docs, 30, seed=3).collect()}
    big = {r.doc_id for r in
           token_budget_select(budget_docs, 90, seed=3).collect()}
    assert small <= big
    # budget covering the whole corpus selects every document
    all_sel = token_budget_select(budget_docs, 10**9, seed=3).collect()
    assert len(all_sel) == 42
    assert not any(r.clipped for r in all_sel)


def test_token_budget_select_zero_budget_and_guard(budget_docs):
    from pdf_parser_spark.operators.curation import token_budget_select
    assert token_budget_select(budget_docs, 0, seed=3).count() == 0
    with pytest.raises(ValueError, match="budget"):
        token_budget_select(budget_docs, -1)


def test_token_budget_select_partition_invariant(budget_docs):
    from pdf_parser_spark.operators.curation import token_budget_select
    a = {(r.doc_id, r.shuffle_pos, r.start_offset, r.take_tokens)
         for r in token_budget_select(budget_docs, 70, seed=5).collect()}
    b = {(r.doc_id, r.shuffle_pos, r.start_offset, r.take_tokens)
         for r in token_budget_select(budget_docs.repartition(13), 70,
                                      seed=5).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# DSIR importance
# ---------------------------------------------------------------------------


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    from pdf_parser_spark.operators.curation import dsir_importance
    target_like = "alpha beta gamma delta alpha beta"
    other = "zeta eta theta iota kappa zeta"
    rows = [(0, target_like), (1, other), (2, "alpha beta zeta eta"),
            (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    target = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id int, text string")
    got = {r.id: r for r in
           dsir_importance(df, target, n_buckets=512).collect()}
    # pure target vocabulary outranks the mix, which outranks disjoint
    assert got[0].importance > got[2].importance > got[1].importance
    # token-less docs keep their row with NULL importance (no evidence)
    assert got[3].importance is None and got[3].n_tokens == 0
    assert got[4].importance is None
    assert len(got) == 5


def test_dsir_importance_matches_pure_python(spark):
    import hashlib
    import math

    from pdf_parser_spark.operators.curation import dsir_importance
    from pdf_parser_spark.operators.textstats import ascii_tokens

    raw_rows = [(0, "a b c a"), (1, "c d e"), (2, "a a e f g")]
    tgt_rows = [(9, "a b b"), (10, "b c")]
    nb, alpha = 64, 1.0

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % nb

    raw_counts, tgt_counts, doc_buckets = {}, {}, {}
    for i, t in raw_rows:
        bs = [bucket(x) for x in ascii_tokens(t)]
        doc_buckets[i] = bs
        for b in bs:
            raw_counts[b] = raw_counts.get(b, 0) + 1
    for _, t in tgt_rows:
        for x in ascii_tokens(t):
            b = bucket(x)
            tgt_counts[b] = tgt_counts.get(b, 0) + 1
    rt, tt = sum(raw_counts.values()), sum(tgt_counts.values())

    def lr(b):
        return ((math.log(tgt_counts.get(b, 0) + alpha)
                 - math.log(tt + alpha * nb))
                - (math.log(raw_counts.get(b, 0) + alpha)
                   - math.log(rt + alpha * nb)))

    want = {i: round(sum(lr(b) for b in bs) / len(bs), 6)
            for i, bs in doc_buckets.items()}

    df = spark.createDataFrame(raw_rows, "doc_id int, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id int, text string")
    got = {r.id: r.importance for r in
           dsir_importance(df, tgt, n_buckets=nb, alpha=alpha).collect()}
    assert got == pytest.approx(want, abs=2e-6)


def test_dsir_importance_rejects_bad_params(spark):
    from pdf_parser_spark.operators.curation import dsir_importance
    df = spark.createDataFrame([(0, "x")], "doc_id int, text string")
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_importance(df, df, n_buckets=0)
    with pytest.raises(ValueError, match="alpha"):
        dsir_importance(df, df, alpha=0.0)


# ---------------------------------------------------------------------------
# Gumbel top-k resampling
# ---------------------------------------------------------------------------


def test_gumbel_topk_matches_pure_python(spark):
    import hashlib
    import math

    from pdf_parser_spark.operators.curation import gumbel_topk_sample

    rows = [(i, float(i % 7) / 3.0) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = gumbel_topk_sample(df, 10, "w", salt="s7").collect()

    def key(i, w):
        h = float(int(hashlib.md5(f"s7:{i}".encode()).hexdigest()[:15], 16))
        u = (h + 1.0) / float((1 << 60) + 1)
        return round(w / 1.0 - math.log(-math.log(u)), 6)

    want = sorted(((key(i, w), i, w) for i, w in rows),
                  key=lambda t: (-t[0], t[1]))[:10]
    assert [(r.id, r.weight, r.gumbel_key, r.rank) for r in
            sorted(got, key=lambda r: r.rank)] \
        == [(i, w, k, n + 1) for n, (k, i, w) in enumerate(want)]


def test_gumbel_topk_is_weight_sensitive_and_null_safe(spark):
    from pdf_parser_spark.operators.curation import gumbel_topk_sample
    # one overwhelming log-weight wins every draw; NULL-weight rows are
    # excluded (no evidence); k > population returns everyone
    rows = [(0, 1000.0)] + [(i, 0.0) for i in range(1, 30)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = gumbel_topk_sample(df, 5, "w")
    top = {r.id: r.rank for r in got.collect()}
    assert top[0] == 1 and 99 not in top and len(top) == 5
    assert gumbel_topk_sample(df, 100, "w").count() == 30


def test_gumbel_topk_deterministic_and_salted(spark):
    from pdf_parser_spark.operators.curation import gumbel_topk_sample
    rows = [(i, 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    a = [(r.id, r.rank) for r in gumbel_topk_sample(
        df.repartition(7), 8, "w", salt="a").collect()]
    b = [(r.id, r.rank) for r in gumbel_topk_sample(df, 8, "w",
                                                    salt="a").collect()]
    c = {r.id for r in gumbel_topk_sample(df, 8, "w", salt="b").collect()}
    assert sorted(a) == sorted(b)          # partition-invariant
    assert {i for i, _ in a} != c          # a different salt redraws
    with pytest.raises(ValueError, match="k"):
        gumbel_topk_sample(df, 0, "w")
    with pytest.raises(ValueError, match="temperature"):
        gumbel_topk_sample(df, 3, "w", temperature=0.0)


# --- curriculum_order: decomposed (scale-safe) vs window (semantics) -------


def curriculum_window(df, bands=10):
    """Reference rendition of curriculum_order (default columns and
    salt): two corpus-global windows (ntile over quality, then
    row_number over the band and the seed-keyed shuffle key). It pins
    the semantics the decomposed form must reproduce; each window sorts
    the whole corpus on one task."""
    from pyspark.sql.window import Window
    key = F.md5(F.concat(F.lit("curriculum:"),
                         F.col("doc_id").cast("string")))
    band = F.ntile(bands).over(
        Window.orderBy(F.desc("quality_score"), F.asc("doc_id")))
    pos = F.row_number().over(Window.orderBy("band", "__ck"))
    return (df.withColumn("band", band)
            .withColumn("__ck", key)
            .withColumn("position", pos.cast("int"))
            .drop("__ck"))


def _curriculum_pairs(df, window=False, **kw):
    from pdf_parser_spark.operators.curation import curriculum_order
    out = (curriculum_window if window else curriculum_order)(df, **kw)
    return {r.doc_id: (r.band, r.position) for r in out.collect()}


def test_curriculum_decomposed_equals_window(spark):
    # n = 103 not divisible by bands -> exercises the uneven-tile split;
    # quality from a hash so cut points fall between real values
    import hashlib
    rows = [(i, int(hashlib.md5(f"q{i}".encode()).hexdigest()[:4], 16)
             / 65535.0) for i in range(103)]
    df = spark.createDataFrame(rows, "doc_id int, quality_score double")
    for bands in (1, 7, 10):
        dec = _curriculum_pairs(df, bands=bands)
        win = _curriculum_pairs(df, bands=bands, window=True)
        assert dec == win
    # decomposition parameters move only load, never answers
    assert _curriculum_pairs(df, n_cuts=1) \
        == _curriculum_pairs(df, n_cuts=64, prefix_len=1) \
        == _curriculum_pairs(df, n_cuts=1024, prefix_len=3)


def test_curriculum_decomposed_handles_ties_and_nulls(spark):
    # heavy ties (3 distinct scores over 60 rows) + NULLs: NULL quality
    # orders last in both the window form (Spark DESC = NULLS LAST) and
    # the decomposed form (bucket -1)
    rows = [(i, float(i % 3)) for i in range(60)] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "doc_id int, quality_score double")
    dec = _curriculum_pairs(df, bands=5)
    win = _curriculum_pairs(df, bands=5, window=True)
    assert dec == win
    assert dec[100][0] == 5 and dec[101][0] == 5   # nulls in the last band


def test_curriculum_fewer_rows_than_bands(spark):
    # n < bands: ntile gives each row its own band 1..n
    df = spark.createDataFrame([(1, 0.9), (2, 0.5), (3, 0.1)],
                               "doc_id int, quality_score double")
    dec = _curriculum_pairs(df, bands=10)
    win = _curriculum_pairs(df, bands=10, window=True)
    assert dec == win
    assert sorted(b for b, _ in dec.values()) == [1, 2, 3]


def test_curriculum_decomposed_plan_has_no_corpus_global_window(spark):
    from pdf_parser_spark.operators.curation import curriculum_order
    from pdf_parser_spark.plancheck import unpartitioned_corpus_windows
    rows = [(i, float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id int, quality_score double")
    dec = curriculum_order(df)
    assert unpartitioned_corpus_windows(dec) == []
    # sanity: the checker DOES flag the window rendition's global sorts
    win = curriculum_window(df)
    assert unpartitioned_corpus_windows(win) != []


def test_plancheck_bounded_is_per_branch(spark):
    """r4 review finding pinned: 'an Aggregate ANYWHERE in the subtree'
    exempted the corpus-join-broadcast-offsets shape — exactly what the
    decomposed operators build. The guard must flag a global window over
    a corpus join even when one branch is aggregated, while keeping the
    legitimate exemptions (windows over aggregates, post-limit ranks)."""
    from pyspark.sql import Window

    from pdf_parser_spark.plancheck import unpartitioned_corpus_windows
    # corpus stand-in: a Range ABOVE the metadata bound (plan-only —
    # nothing here executes), since round 5 small Ranges are exempt
    df = spark.range(1 << 33).select(F.col("id"),
                                     (F.col("id") % 7).alias("g"))
    off = df.groupBy("g").count()
    joined = df.join(F.broadcast(off), "g")
    w = Window.orderBy("id")
    assert unpartitioned_corpus_windows(
        joined.withColumn("rk", F.row_number().over(w))) != []
    assert unpartitioned_corpus_windows(
        df.withColumn("rk", F.row_number().over(w))) != []
    wg = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    assert unpartitioned_corpus_windows(
        off.withColumn("off", F.sum("count").over(wg))) == []
    assert unpartitioned_corpus_windows(
        df.orderBy("id").limit(10)
          .withColumn("rk", F.row_number().over(w))) == []


def test_plancheck_range_bounded_by_size(spark):
    """A Range leaf is generator metadata, not corpus data: a global
    window over a SMALL range (the bucket/offset tables the decomposed
    operators build, e.g. dsir_importance's full-bucket ratio table) is
    exempt, while an adversarial range above the metadata bound stays
    flagged — it would be the same single-task catastrophe as a corpus
    sort. Closes the round-5 sweep's two false positives
    (docs_dsir_importance / docs_dsir_resample) without widening the
    guard to unbounded generators."""
    from pyspark.sql import Window

    from pdf_parser_spark.plancheck import (_RANGE_BOUND,
                                            unpartitioned_corpus_windows)
    w = Window.partitionBy()
    small = spark.range(100_000).withColumn("s", F.sum("id").over(w))
    assert unpartitioned_corpus_windows(small) == []
    huge = (spark.range(_RANGE_BOUND * 2)
            .withColumn("s", F.sum("id").over(w)))
    assert unpartitioned_corpus_windows(huge) != []
    # the real shape the exemption exists for: range ⟕ aggregate ⟕
    # aggregate feeding a global total — dsir_importance's ratio table
    agg = (spark.range(1 << 33).select((F.col("id") % 64).alias("b"))
           .groupBy("b").count())
    ratio = (spark.range(64).select(F.col("id").alias("b"))
             .join(agg, "b", "left")
             .withColumn("tot", F.sum("count").over(w)))
    assert unpartitioned_corpus_windows(ratio) == []


def test_dsir_plans_have_no_corpus_global_window(spark):
    """The DSIR entries' global bucket-total windows run over the
    n_buckets-row ratio table (range ⟕ two aggregates), never the
    corpus — asserted mechanically now that plancheck understands
    bounded Ranges."""
    from pdf_parser_spark.plancheck import unpartitioned_corpus_windows
    from pdf_parser_spark.queries import QUERIES
    for name in ("docs_dsir_importance", "docs_dsir_resample"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        assert unpartitioned_corpus_windows(df) == [], name


def test_curriculum_rejects_bad_params(spark):
    from pdf_parser_spark.operators.curation import curriculum_order
    df = spark.createDataFrame([(1, 0.5)], "doc_id int, quality_score double")
    with pytest.raises(ValueError, match="bands"):
        curriculum_order(df, bands=0)
    with pytest.raises(ValueError, match="n_cuts"):
        curriculum_order(df, n_cuts=0)
