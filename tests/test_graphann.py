"""Graph ANN (operators/graphann.py): kNN-graph build bounds, beam-
search recall vs brute force on the fixed sf0.001 embeddings, scan
accounting, and determinism. Measured values recorded in BASELINE.md;
thresholds leave margin only for data regeneration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators.graphann import (build_knn_graph,
                                                 entry_points,
                                                 graph_beam_search)
from pdf_parser_spark.operators.similarity import brute_force_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def adj(spark, emb):
    dim = len(emb.first().embedding)
    a = build_knn_graph(emb, dim=dim).cache()
    a.count()
    yield a
    a.unpersist()


def test_graph_degree_and_symmetry_bounds(adj, emb):
    # out-degree <= 2m (m out-edges + <= m reversed in-cap edges);
    # every edge endpoint is a real corpus id; no self-loops
    m = 12
    deg = adj.groupBy("id").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 2 * m
    n_ids = emb.count()
    assert adj.select("id").distinct().count() == n_ids  # no isolates
    assert adj.where(F.col("id") == F.col("nbr")).count() == 0
    ids = emb.select(F.col("vec_id").alias("nbr"))
    assert adj.join(ids, "nbr", "left_anti").count() == 0


def test_beam_search_recall_and_scan(spark, adj, emb):
    """Measured (2026-08, m=12 refine=2 hops=3 beam=16 entries=8):
    recall@10 avg 0.96 / min 0.90 at ~0.53 scanned fraction of the
    500-row fixture. Scanned ROWS ~= entries + hops*beam*m are
    corpus-independent, so the fraction collapses at scale and so does
    recall: on the 2000-row sf0.1 fixture the same search measured
    0.65 / 0.4 at 0.18 scan (BASELINE.md ANN frontier). The row count
    is the gate."""
    n = emb.count()
    qids = [0, 7, 42, 99, 123]
    qs = {r.vec_id: [float(x) for x in r.embedding]
          for r in emb.where(F.col("vec_id").isin(qids)).collect()}
    recalls, scanned = [], []
    for qid, q in qs.items():
        truth = set(r.vec_id
                    for r in brute_force_topk(emb, q, k=10).collect())
        got, st = graph_beam_search(adj, emb, q, k=10, beam=16, hops=3,
                                    n_entry=8, with_stats=True)
        ids = set(r.id for r in got.collect())
        recalls.append(len(ids & truth) / 10)
        scanned.append(st["scanned"])
    avg, mn = sum(recalls) / len(recalls), min(recalls)
    assert avg >= 0.9 and mn >= 0.8, (recalls,)
    # the scan budget: strictly sublinear on the fixture AND bounded by
    # the structural formula (entries + hops*beam*(2m) + slack)
    assert all(s < 0.7 * n for s in scanned), scanned
    assert all(s <= 8 + 3 * 16 * 24 for s in scanned), scanned


def test_beam_search_deterministic(spark, adj, emb):
    q = [float(x) for x in
         emb.where(F.col("vec_id") == 7).first().embedding]
    a = [(r.id, r.similarity) for r in
         graph_beam_search(adj, emb, q, k=10).collect()]
    b = [(r.id, r.similarity) for r in
         graph_beam_search(adj, emb, q, k=10).collect()]
    assert a == b and len(a) == 10
    # similarities are sorted descending with id tiebreak
    assert a == sorted(a, key=lambda t: (-t[1], t[0]))


def test_entry_points_deterministic_and_spread(emb):
    e1 = entry_points(emb, n_entry=8)
    e2 = entry_points(emb, n_entry=8)
    assert e1 == e2 and len(set(e1)) == 8


def test_more_beam_never_hurts_recall(spark, adj, emb):
    """Beam is the scan/recall knob: a wider frontier explores more of
    the graph per hop. Pinned non-decreasing on this fixture's mid-hard
    query (deterministic data + deterministic search => reproducible)."""
    q = [float(x) for x in
         emb.where(F.col("vec_id") == 42).first().embedding]
    truth = set(r.vec_id
                for r in brute_force_topk(emb, q, k=10).collect())

    def rec(beam):
        got = graph_beam_search(adj, emb, q, k=10, beam=beam, hops=3)
        return len(set(r.id for r in got.collect()) & truth) / 10

    r4, r16 = rec(4), rec(16)
    assert r16 >= r4
