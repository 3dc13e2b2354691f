"""Per-turn equality: Spark pipeline vs pure-Python oracle.

The north-rule correctness gate: the distributed extraction must match the
reference-semantics oracle exactly — every chunk's text, char_count,
lineage indices, and type, under stable (conv_id, turn_idx, chunk_idx)
ordering — in every tokenizer/heuristic mode. The scale path and the
grouped reference rendition below take entirely different execution
routes (map-only + window vs groupBy+applyInPandas), so their agreement
with the oracle and each other is strong evidence of the orchestration's
correctness.
"""

from __future__ import annotations

import pytest

import pandas as pd

from pdf_parser_spark.config import (CLEANING_CONFIG, DEFAULT_CONFIG,
                                     PARAGRAPH_CONFIG, ExtractionConfig)
from pdf_parser_spark.core.blocks import tokenize_turn
from pdf_parser_spark.core.merge import merge_blocks_to_chunks
from pdf_parser_spark.core.oracle import extract_many
from pdf_parser_spark.operators.boilerplate import (REPEATED_COL,
                                                    with_repeated_lines)
from pdf_parser_spark.operators.merge import (CHUNK_FIELDS, CHUNK_SCHEMA,
                                              _as_repeated, _drop_null_keys,
                                              extract_chunks)
from pdf_parser_spark.sources.synth import generate_transcripts


def extract_chunks_grouped(transcripts, cfg=ExtractionConfig()):
    """Reference rendition: whole conversation per task.

    groupBy(conv_id).applyInPandas — sequential within a conversation,
    parallel across conversations (exactly the reference's document loop,
    reference pdf_parser.py:311-347, distributed). Skew-exposed at scale
    (a 10M-turn conversation lands in one task), so it is kept here only
    as an independently-routed cross-check of the windowed path.
    """
    src = with_repeated_lines(_drop_null_keys(transcripts), cfg)

    def merge_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        conv_id = pdf["conv_id"].iloc[0]
        repeated = _as_repeated(pdf[REPEATED_COL].iloc[0])
        blocks = []
        for _, r in pdf.iterrows():
            blocks.extend(tokenize_turn(int(r["turn_idx"]), r["text"],
                                        r["tool"], cfg, repeated))
        rows = []
        for idx, c in enumerate(merge_blocks_to_chunks(blocks, cfg)):
            rows.append((conv_id, idx, c["page"] - 1, c["chunk_type"],
                         c["text"], c["char_count"], c["block_count"],
                         c["block_indices"], c["table_index"],
                         c["image_index"], c["table_cells"]))
        return pd.DataFrame(rows, columns=[f.name for f in CHUNK_FIELDS])

    return (src.select("conv_id", "turn_idx", "text", "tool", REPEATED_COL)
            .groupBy("conv_id").applyInPandas(merge_conv, CHUNK_SCHEMA))


def _norm_rows(rows) -> list[tuple]:
    out = []
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        cells = d["table_cells"]
        if cells is not None:
            cells = tuple(tuple(row) for row in cells)
        out.append((d["conv_id"], int(d["chunk_idx"]), int(d["turn_idx"]),
                    d["chunk_type"], d["text"], int(d["char_count"]),
                    int(d["block_count"]), tuple(int(i) for i in d["block_indices"]),
                    d["table_index"], d["image_index"], cells))
    return sorted(out)


CONFIGS = [DEFAULT_CONFIG, PARAGRAPH_CONFIG, CLEANING_CONFIG,
           ExtractionConfig(tokenizer_mode="paragraphs", max_chars_per_chunk=120),
           ExtractionConfig(tokenizer_mode="paragraphs", overlap_chars=40,
                            max_chars_per_chunk=200)]


@pytest.mark.parametrize("cfg", CONFIGS, ids=["default", "paragraphs", "cleaning",
                                              "small-chunks", "overlap"])
def test_scale_path_matches_oracle(spark, transcripts_df, cfg):
    rows = generate_transcripts(40, seed=42, max_turns=48)
    expected = _norm_rows(extract_many(rows, cfg))
    actual = _norm_rows(extract_chunks(transcripts_df, cfg).collect())
    assert len(actual) == len(expected) and len(actual) > 0
    assert actual == expected


def test_grouped_path_matches_scale_path(spark, transcripts_df):
    cfg = CLEANING_CONFIG
    scale = _norm_rows(extract_chunks(transcripts_df, cfg).collect())
    grouped = _norm_rows(extract_chunks_grouped(transcripts_df, cfg).collect())
    assert scale == grouped


def test_stable_ordering_and_schema(spark, transcripts_df):
    df = extract_chunks(transcripts_df, DEFAULT_CONFIG)
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "chunk_idx", "turn_idx", "chunk_type", "text",
        "char_count", "block_count", "block_indices", "table_index",
        "image_index", "table_cells"]
    rows = (df.orderBy("conv_id", "chunk_idx")
              .select("conv_id", "chunk_idx", "turn_idx").collect())
    # chunk_idx is dense 0..n-1 per conversation; turn_idx non-decreasing
    seen: dict[str, int] = {}
    last_turn: dict[str, int] = {}
    for r in rows:
        nxt = seen.get(r.conv_id, 0)
        assert r.chunk_idx == nxt
        seen[r.conv_id] = nxt + 1
        assert r.turn_idx >= last_turn.get(r.conv_id, -1)
        last_turn[r.conv_id] = r.turn_idx


def test_metrics_match_oracle(spark, transcripts_df):
    from pdf_parser_spark.pipeline import extraction_metrics

    rows = generate_transcripts(40, seed=42, max_turns=48)
    oracle = extract_many(rows, DEFAULT_CONFIG)
    by_conv: dict[str, list] = {}
    for c in oracle:
        by_conv.setdefault(c["conv_id"], []).append(c)

    got = {r["conv_id"]: r.asDict() for r in
           extraction_metrics(extract_chunks(transcripts_df, DEFAULT_CONFIG)).collect()}
    assert set(got) == set(by_conv)
    for conv, chunks in by_conv.items():
        g = got[conv]
        assert g["total_chunks"] == len(chunks)
        assert g["total_chars"] == sum(c["char_count"] for c in chunks)
        assert g["text_chunks"] == sum(1 for c in chunks if c["chunk_type"] == "text")


@pytest.mark.parametrize("cfg", CONFIGS, ids=["default", "paragraphs", "cleaning",
                                              "small-chunks", "overlap"])
def test_bucketed_path_matches_oracle(spark, transcripts_df, cfg):
    """The window-free bucketed path (third independent execution route)
    matches the oracle exactly once input is clustered by conversation."""
    from pdf_parser_spark.operators.merge import (cluster_by_conversation,
                                                  extract_chunks_bucketed)
    rows = generate_transcripts(40, seed=42, max_turns=48)
    expected = _norm_rows(extract_many(rows, cfg))
    clustered = cluster_by_conversation(transcripts_df, 5)
    actual = _norm_rows(extract_chunks_bucketed(clustered, cfg).collect())
    assert actual == expected


def test_bucketed_path_conv_spanning_batches(spark):
    """A conversation larger than one Arrow batch must stitch correctly
    across batch boundaries within a partition."""
    from pdf_parser_spark.operators.merge import (cluster_by_conversation,
                                                  extract_chunks, extract_chunks_bucketed)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        rows = generate_transcripts(6, seed=9, max_turns=120)
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
        windowed = _norm_rows(extract_chunks(df, DEFAULT_CONFIG).collect())
        bucketed = _norm_rows(extract_chunks_bucketed(
            cluster_by_conversation(df, 2), DEFAULT_CONFIG).collect())
        assert bucketed == windowed and len(bucketed) > 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")


def test_extreme_skew_conversation(spark):
    """A single conversation dwarfing the rest (zipf head): all three
    execution routes stay correct and agree with the oracle."""
    from pdf_parser_spark.operators.merge import (cluster_by_conversation,
                                                  extract_chunks_bucketed)
    big = generate_transcripts(1, seed=77, max_turns=3000)
    small = generate_transcripts(60, seed=78, max_turns=4)
    rows = big + small
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    cfg = DEFAULT_CONFIG
    expected = _norm_rows(extract_many(rows, cfg))
    windowed = _norm_rows(extract_chunks(df, cfg).collect())
    bucketed = _norm_rows(extract_chunks_bucketed(
        cluster_by_conversation(df, 8), cfg).collect())
    assert windowed == expected
    assert bucketed == expected
    # the heavy conversation really is heavy (skew is exercised, not luck)
    n_big = sum(1 for t in expected if t[0].startswith("conv_77"))
    assert n_big > len(expected) / 2


def test_unicode_torture_equality(spark):
    """Exact text equality through Arrow for astral-plane emoji, RTL,
    combining marks, zero-width joiners, and CJK mixed with tool payloads."""
    import json as _json
    torture = [
        "café  naïve — ﬁancéé",                     # combining accents
        "👩‍👩‍👧‍👦 family 🇺🇳 flags 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 math",              # ZWJ + astral plane
        "مرحبا بالعالم hello עולם",                        # RTL mixes
        "line1 line2 para",                     # unicode separators
        "​‌zero‍width",                    # zero-width chars
        "数据\t处理\n引擎 🚀",                              # CJK + emoji
    ]
    rows = []
    for t_idx, txt in enumerate(torture):
        rows.append({"conv_id": "u1", "turn_idx": t_idx, "role": "user",
                     "text": txt,
                     "tool": _json.dumps({"tables": [[[txt, None, 42]]]},
                                         ensure_ascii=False)
                             if t_idx % 2 else None,
                     "ts": None})
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    for cfg in (DEFAULT_CONFIG, PARAGRAPH_CONFIG, CLEANING_CONFIG):
        expected = _norm_rows(extract_many(rows, cfg))
        actual = _norm_rows(extract_chunks(df, cfg).collect())
        assert actual == expected and len(actual) > 0


def test_null_key_rows_dropped_not_fatal(spark):
    """Dirty rows (null conv_id / turn_idx) are dropped by every execution
    route and by the oracle — identical output to the clean subset."""
    from pdf_parser_spark.operators.merge import (cluster_by_conversation,
                                                  extract_chunks_bucketed)
    clean = generate_transcripts(10, seed=44, max_turns=8)
    dirty = clean + [
        {"conv_id": None, "turn_idx": 0, "role": "user", "text": "x",
         "tool": None, "ts": None},
        {"conv_id": "conv_ok", "turn_idx": None, "role": "user", "text": "y",
         "tool": None, "ts": None},
    ]
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    df_dirty = spark.createDataFrame(dirty, ddl)
    cfg = DEFAULT_CONFIG
    expected = _norm_rows(extract_many(clean, cfg))
    assert _norm_rows(extract_many(dirty, cfg)) == expected
    assert _norm_rows(extract_chunks(df_dirty, cfg).collect()) == expected
    assert _norm_rows(extract_chunks_bucketed(
        cluster_by_conversation(df_dirty, 3), cfg).collect()) == expected


def test_metrics_null_keys_dropped_not_fatal(spark):
    """The metrics path applies the same null-key drop rule as extraction:
    a dirty row (null conv_id / turn_idx) degrades to a dropped row, never
    a dead job — including the cleaning path that tokenizes per turn."""
    from pdf_parser_spark.pipeline import cleaning_metrics, full_metrics
    clean = generate_transcripts(8, seed=45, max_turns=6)
    dirty = clean + [
        {"conv_id": None, "turn_idx": 0, "role": "user", "text": "x\ny",
         "tool": None, "ts": None},
        {"conv_id": "conv_ok", "turn_idx": None, "role": "user", "text": "y",
         "tool": None, "ts": None},
    ]
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    df_clean = spark.createDataFrame(clean, ddl)
    df_dirty = spark.createDataFrame(dirty, ddl)
    for cfg in (DEFAULT_CONFIG, CLEANING_CONFIG):
        exp = sorted(map(tuple, cleaning_metrics(df_clean, cfg).collect()))
        got = sorted(map(tuple, cleaning_metrics(df_dirty, cfg).collect()))
        assert got == exp and len(got) == 8
        exp_f = sorted(map(tuple, full_metrics(
            df_clean, extract_chunks(df_clean, cfg), cfg).collect()))
        got_f = sorted(map(tuple, full_metrics(
            df_dirty, extract_chunks(df_dirty, cfg), cfg).collect()))
        assert got_f == exp_f


def test_bucketed_guard_rejects_split_conversations(spark):
    """The bucketed path must fail loudly — not emit duplicate chunk
    indices — when a partition is not conversation-contiguous."""
    from pdf_parser_spark.operators.merge import extract_chunks_bucketed
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "u", "text": "a",
         "tool": None, "ts": None},
        {"conv_id": "c2", "turn_idx": 0, "role": "u", "text": "b",
         "tool": None, "ts": None},
        {"conv_id": "c1", "turn_idx": 1, "role": "u", "text": "c",  # split!
         "tool": None, "ts": None},
    ]
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    df = spark.createDataFrame(rows, ddl).coalesce(1)
    with pytest.raises(Exception, match="conversation-complete contract"):
        extract_chunks_bucketed(df, DEFAULT_CONFIG).collect()


def test_auto_route_picks_by_skew_and_matches(spark):
    """The skew router (VERDICT r3 #9). Policy pinned:

    - generic input always routes WINDOWED (re-clustering raw text
      costs more than the windowed path's chunk-row exchange);
    - conversation-complete input routes BUCKETED (pure map) unless a
      heavy-tail pre-scan finds a whale conversation, where the
      conversation-granularity imbalance makes WINDOWED the right call.
    Every route produces identical chunk rows."""
    from pdf_parser_spark.operators.merge import (choose_extraction_route,
                                                  cluster_by_conversation,
                                                  extract_chunks,
                                                  extract_chunks_auto)
    cfg = DEFAULT_CONFIG

    def df_of(rows):
        return spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
              r["ts"]) for r in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")

    uniform = generate_transcripts(200, seed=9, max_turns=2)
    heavy = generate_transcripts(12, seed=9, max_turns=4)
    giant = [r for r in generate_transcripts(1, seed=77, max_turns=64)]
    for r in giant:
        r["conv_id"] = "conv_giant"
        r["text"] = (r["text"] or "x") * 40          # one whale conversation
    u_df, h_df = df_of(uniform), df_of(heavy + giant)
    want_u = _norm_rows(extract_chunks(u_df, cfg).collect())
    want_h = _norm_rows(extract_chunks(h_df, cfg).collect())

    assert choose_extraction_route(u_df, n_partitions=8) == "bucketed"
    assert choose_extraction_route(h_df, n_partitions=8) == "windowed"

    # generic layout: windowed regardless of skew
    got = extract_chunks_auto(u_df, cfg, n_partitions=8)
    assert got.extraction_route == "windowed"
    assert _norm_rows(got.collect()) == want_u

    # conversation-complete layout: bucketed on uniform...
    u_cc = cluster_by_conversation(u_df, 8)
    got = extract_chunks_auto(u_cc, cfg, conversation_complete=True,
                              n_partitions=8)
    assert got.extraction_route == "bucketed"
    assert _norm_rows(got.collect()) == want_u

    # ...windowed on the whale corpus (the measured ~9% skew loss case)
    h_cc = cluster_by_conversation(h_df, 8)
    got = extract_chunks_auto(h_cc, cfg, conversation_complete=True,
                              n_partitions=8)
    assert got.extraction_route == "windowed"
    assert _norm_rows(got.collect()) == want_h

    # explicit override + bad route rejected
    forced = extract_chunks_auto(u_df, cfg, n_partitions=8,
                                 route="bucketed")
    assert forced.extraction_route == "bucketed"
    assert _norm_rows(forced.collect()) == want_u
    with pytest.raises(ValueError, match="unknown route"):
        extract_chunks_auto(u_df, cfg, route="zigzag")
