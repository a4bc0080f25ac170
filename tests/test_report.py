"""Report operators (operators/report.py): top-k neighbours, kNN
adjacency and best hit over the verified edge list."""

from __future__ import annotations

from gsearch_spark.operators.report import (best_hit, knn_adjacency,
                                            topk_neighbors)


def test_report_operators(spark):
    edges = spark.createDataFrame(
        [("a", "b", "minhash", 45.0, True),
         ("a", "c", "simhash", 50.0, True),
         ("b", "d", "suffix", 42.0, False)],
        "a string, b string, src string, psnr double, caption_eq boolean")
    top = topk_neighbors(edges, k=2)
    got = {(r["query"], r["rank"]): r["neighbor"] for r in top.collect()}
    assert got[("a", 1)] == "c"      # highest psnr first
    assert got[("a", 2)] == "b"
    assert got[("c", 1)] == "a"      # bidirectional
    adj = {r["query"]: r["neighbors"] for r in knn_adjacency(edges).collect()}
    assert adj["a"] == ["b", "c"]
    bh = {r["query"]: r["neighbor"] for r in best_hit(edges).collect()}
    assert bh["a"] == "c" and bh["d"] == "b"
