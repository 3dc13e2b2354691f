"""Golden-digest pinning for the rows-only driver-contract entries, plus
the registry self-consistency guard (VERDICT r2 items #2 and #10).

The entries in queries.ROWS_ONLY have no DuckDB oracle by construction
(synthesized inputs / approximate ANN), so between rounds nothing
guarded their row VALUES except the broader pytest suite. The
deterministic ones are pinned here by an order-insensitive digest (the
jobs/equality_check.py scheme: md5 per canonical row, summed, plus row
count — invariant to partitioning and row order, sensitive to any value
change); the ANN entries are pinned by exact-top-1 containment (the
query vector is row 0's own embedding, so the true top-1 is known).
test_registry_guard enforces that GOLDEN + the ANN pins exactly cover
ROWS_ONLY, so these sets cannot silently drift from the docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.queries import ORACLES, QUERIES, ROWS_ONLY

SF_DIR = "/root/testdata/sf0.001"


def df_digest(df):
    """(sum of md5-derived 60-bit row hashes, row count) — columns sorted
    by name; arrays/structs canonicalized via to_json, floats via
    round-to-6 + fixed %.6f formatting (so the pin is not hostage to
    float repr)."""
    dtypes = dict(df.dtypes)
    parts = []
    for c in sorted(df.columns):
        col, dt = F.col(c), dtypes[c]
        if dt.startswith(("array", "struct", "map")):
            col = F.to_json(col)
        elif dt in ("double", "float"):
            col = F.format_string("%.6f", F.round(col.cast("double"), 6))
        parts.append(F.coalesce(col.cast("string"), F.lit("\x00")))
    canon = F.md5(F.concat_ws("\x1f", *parts))
    h = F.conv(F.substring(canon, 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.sum(h).alias("s"), F.count("*").alias("n")).collect()[0]
    return int(r.s), int(r.n)


# Pinned 2026-08-17 (round 3); regenerate ONLY for an intentional
# semantics change, with the commit saying why:
#   python - <<'EOF'
#   from tests.test_golden_digests import df_digest, SF_DIR
#   from pdf_parser_spark.queries import QUERIES; ...
#   EOF
GOLDEN = {
    "extract_synth_default": (146136633130679966616, 242),
    "extract_synth_cleaned": (169824789434257729557, 286),
    "chunks_semantic_search": (3248705052294677657, 5),
    "media_payload_features": (68839625954811966076, 120),
    # pinned 2026-08-18 (round 4): default stdlib-PNG decode path
    "media_png_thumbnails": (15542541634295717865, 24),
}


def test_rows_only_golden_digests(spark):
    got = {name: df_digest(QUERIES[name](spark, SF_DIR)) for name in GOLDEN}
    assert got == GOLDEN


def test_ivf_topk_contains_exact_hit(spark):
    """The IVF probe set always includes the query's own cell, so the
    exact nearest neighbor (vec 0 itself: the query IS its embedding)
    must rank first with similarity 1.0."""
    top = QUERIES["emb_ivf_topk"](spark, SF_DIR).collect()
    assert top[0].vec_id == 0
    assert abs(top[0].similarity - 1.0) < 1e-6


def test_ann_multiprobe_contains_exact_hit(spark):
    top = QUERIES["emb_ann_multiprobe_topk"](spark, SF_DIR).collect()
    assert top[0].vec_id == 0
    assert abs(top[0].similarity - 1.0) < 1e-6


def test_pq_topk_contains_exact_hit(spark):
    top = QUERIES["emb_pq_topk"](spark, SF_DIR).collect()
    assert top[0].vec_id == 0
    assert top[0].l2_dist == 0.0


def test_ivfpq_topk_contains_exact_hit(spark):
    top = QUERIES["emb_ivfpq_topk"](spark, SF_DIR).collect()
    assert top[0].vec_id == 0
    assert top[0].l2_dist == 0.0


def test_pq_funnel_contains_exact_hit(spark):
    top = QUERIES["emb_funnel_topk"](spark, SF_DIR).collect()
    assert top[0].vec_id == 0
    assert top[0].l2_dist == 0.0


def test_registry_guard():
    """Contract self-consistency: every oracle names a query, and every
    query without an oracle is explicitly declared rows-only WITH a
    reason — no entry can silently drop out of verification."""
    assert set(ORACLES) <= set(QUERIES)
    unverified = set(QUERIES) - set(ORACLES)
    assert unverified == set(ROWS_ONLY), (
        f"rows-only drift: undeclared={unverified - set(ROWS_ONLY)}, "
        f"stale={set(ROWS_ONLY) - unverified}")
    assert all(isinstance(v, str) and v for v in ROWS_ONLY.values())
    # the deterministic rows-only entries must all carry a golden digest
    assert set(GOLDEN) == set(ROWS_ONLY) - {
        "emb_ivf_topk", "emb_ann_multiprobe_topk",
        "emb_pq_topk", "emb_funnel_topk", "emb_ivfpq_topk",
        "emb_graph_topk"}
