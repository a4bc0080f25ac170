"""End-to-end pipeline tests vs the brute-force oracle (BASELINE.json gate).

The analog of the reference's end-to-end runs against published test data
with known expected neighbors (gsearch ``README.md:607-660``).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.pipeline import NearDupPipeline, chains
from gsearch_spark.operators.signatures import compute_signatures
from gsearch_spark.oracle import (cluster_pair_recall, oracle_clusters,
                                  oracle_minhash, oracle_pairs_bruteforce,
                                  oracle_simhash, pair_recall)

CFG = PipelineConfig()
CKPT = "/tmp/gsearch_spark_ckpt_e2e"


@pytest.fixture(scope="module")
def rows(small_fixture_dir):
    return pq.read_table(f"{small_fixture_dir}/images.parquet").to_pylist()


@pytest.fixture(scope="module")
def clusters_df(spark, small_fixture_dir):
    shutil.rmtree(CKPT, ignore_errors=True)
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    pipe = NearDupPipeline(spark, CFG, CKPT)
    clusters = pipe.run(images, resume=False)
    return clusters, pipe


def test_signatures_bitexact_vs_oracle(spark, small_fixture_dir, rows):
    """The signature contract: Spark UDF output == numpy oracle, bit for
    bit, regardless of partitioning (SURVEY §7.3 determinism risk)."""
    images = spark.read.parquet(
        f"{small_fixture_dir}/images.parquet").repartition(7)
    got = {r["image_id"]: (r["minhash"], r["simhash"])
           for r in compute_signatures(images, CFG).collect()}
    ph = np.array([r["phash"] for r in rows], dtype=np.int64)
    caps = [r["caption"] for r in rows]
    mh = oracle_minhash(ph, caps, CFG).view(np.int64)
    sh = oracle_simhash([r["bytes"] for r in rows], CFG)
    for i, r in enumerate(rows):
        g_mh, g_sh = got[r["image_id"]]
        assert (np.array(g_mh, dtype=np.int64) == mh[i]).all(), r["image_id"]
        assert int(g_sh) == int(sh[i]), r["image_id"]


def test_pipeline_recall_vs_oracle(clusters_df, rows, small_fixture_dir):
    """Dup-pair recall >= 0.99 vs reference assignments (BASELINE.json)."""
    clusters, _ = clusters_df
    assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    assert len(assign) == len(rows)

    oracle_p = oracle_pairs_bruteforce(rows, CFG)
    recall = cluster_pair_recall(assign, oracle_p)
    assert recall >= 0.99, f"cluster dup-pair recall {recall:.4f} < 0.99"

    truth = pq.read_table(
        f"{small_fixture_dir}/truth_pairs.parquet").to_pylist()
    planted = {(p["a"], p["b"]) for p in truth}
    recall_planted = cluster_pair_recall(assign, planted)
    assert recall_planted >= 0.99, f"planted recall {recall_planted:.4f}"


def test_pipeline_rejects_negatives(clusters_df, small_fixture_dir):
    """Hard negatives (same caption, different pixels) must NOT merge."""
    clusters, _ = clusters_df
    assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    negs = pq.read_table(
        f"{small_fixture_dir}/truth_negatives.parquet").to_pylist()
    merged = [(p["a"], p["b"]) for p in negs
              if assign[p["a"]] == assign[p["b"]]]
    assert not merged, f"negatives merged: {merged[:5]}"


def test_pipeline_precision_vs_oracle(clusters_df, rows):
    """Every pipeline-merged pair must be oracle-verified (no false merges
    beyond transitive closure of true pairs)."""
    clusters, _ = clusters_df
    assign = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    oracle_p = oracle_pairs_bruteforce(rows, CFG)
    oracle_assign = oracle_clusters([r["image_id"] for r in rows], oracle_p)
    # pipeline clusters must be a REFINEMENT-or-equal of oracle clusters:
    # two items in the same pipeline cluster must share an oracle cluster
    by_cluster: "dict[str, list[str]]" = {}
    for img, cid in assign.items():
        by_cluster.setdefault(cid, []).append(img)
    for cid, members in by_cluster.items():
        roots = {oracle_assign[m] for m in members}
        assert len(roots) == 1, (cid, sorted(members)[:6], roots)


def test_pipeline_state_lineage(clusters_df, spark):
    """pipeline_state has a row (part_id -1, the stage's whole row count)
    for every stage and a single config hash (processing_state.json
    analog)."""
    _, pipe = clusters_df
    state = spark.read.parquet(os.path.join(CKPT, "pipeline_state"))
    got = {r["stage"] for r in state.select("stage").distinct().collect()}
    assert got == {"exact_groups", "signatures", "bands",
                   "candidate_pairs", "verified_edges", "clusters",
                   "ck_index", "id_index", "edge_index"}
    hashes = {r["config_hash"]
              for r in state.select("config_hash").distinct().collect()}
    assert hashes == {CFG.config_hash()}


def test_stage_counts_match_tables(clusters_df, spark):
    """Count oracle: every build stage's rows_out — observed on the write
    that materialized the stage, no count job of its own — equals a
    plain count of the checkpoint it wrote, in one part_id -1 row."""
    from pyspark.sql import functions as F
    from gsearch_spark.operators.pipeline import read_layout
    _, pipe = clusters_df
    state = (spark.read.parquet(os.path.join(CKPT, "pipeline_state"))
             .groupBy("stage")
             .agg(F.sum("rows_out").alias("rows"),
                  F.collect_set("part_id").alias("parts")).collect())
    assert len(state) == 9
    for r in state:
        assert r["parts"] == [-1], r["stage"]
        assert r["rows"] == read_layout(spark, CKPT, r["stage"]).count(), \
            r["stage"]
    assert {r.stage: r.rows_out for r in pipe.records} == \
        {r["stage"]: r["rows"] for r in state}


def test_partitioning_invariance(spark, small_fixture_dir, clusters_df):
    """Permuting/partitioning input differently leaves clusters unchanged
    (metamorphic test, SURVEY §5.2 #3)."""
    clusters, _ = clusters_df
    base = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    ckpt2 = CKPT + "_repart"
    shutil.rmtree(ckpt2, ignore_errors=True)
    images = (spark.read.parquet(f"{small_fixture_dir}/images.parquet")
              .repartition(11).sortWithinPartitions("phash"))
    clusters2 = NearDupPipeline(spark, CFG, ckpt2).run(images, resume=False)
    got = {r["image_id"]: r["cluster_id"] for r in clusters2.collect()}
    assert got == base


def test_build_cc_gate_sides_agree(spark, small_fixture_dir, clusters_df,
                                   monkeypatch):
    """The build's ``cc_roots`` gate forced to its distributed side
    (``add_cc_local_max_edges=0``): the star CC runs, and its clusters
    equal the default build's driver union-find clusters."""
    import dataclasses
    from gsearch_spark.operators import pipeline
    clusters, _ = clusters_df
    calls = []
    real = pipeline.connected_components
    monkeypatch.setattr(pipeline, "connected_components",
                        lambda *a, **k: calls.append(a) or real(*a, **k))
    ckpt = CKPT + "_dist_cc"
    shutil.rmtree(ckpt, ignore_errors=True)
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    got = NearDupPipeline(
        spark, dataclasses.replace(CFG, add_cc_local_max_edges=0),
        ckpt).run(images, resume=False)
    assert len(calls) == 1
    assert ({r["image_id"]: r["cluster_id"] for r in got.collect()}
            == {r["image_id"]: r["cluster_id"] for r in clusters.collect()})


def test_attach_strategies_identical(spark, small_fixture_dir):
    """broadcast and shuffle-hash semi joins in attach_payloads are
    interchangeable: identical attached rows."""
    from gsearch_spark.operators.verify import attach_payloads
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    pairs = spark.createDataFrame(
        [("img_00000001", "img_00000002", "t"),
         ("img_00000003", "img_00000010", "t"),
         ("img_00000005", "img_00000011", "t")],
        schema="a string, b string, src string")
    outs = {}
    for strat in ("broadcast", "shuffle"):
        df = attach_payloads(pairs, images, strategy=strat)
        outs[strat] = sorted(
            (r["a"], r["b"], bytes(r["bytes_a"])[:16], r["caption_b"])
            for r in df.collect())
    assert outs["broadcast"] == outs["shuffle"]
    assert len(outs["shuffle"]) == 3


def test_build_joins_side_chains_when_a_stage_fails(spark,
                                                    small_fixture_dir,
                                                    monkeypatch,
                                                    assert_settled):
    """A stage raising between spawn and join (here: clusters) must not
    leave the build's side chains running after run() raises — the
    ck_index / edge_index writes that overlap clusters are joined, so no
    Spark job is active and their checkpoints are complete."""
    from gsearch_spark.operators import pipeline

    def boom(*args, **kwargs):
        raise RuntimeError("injected clusters failure")

    monkeypatch.setattr(pipeline, "cc_roots", boom)
    ckpt = "/tmp/gsearch_spark_ckpt_e2e_fail"
    shutil.rmtree(ckpt, ignore_errors=True)
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    with pytest.raises(RuntimeError, match="injected clusters failure"):
        NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    assert_settled(ckpt)
    for stage in ("ck_index", "edge_index"):
        assert os.path.exists(os.path.join(ckpt, stage, "_SUCCESS")), stage


def test_chains_scope_joins_every_chain(spark):
    """chains() cannot be left while a chain runs: a failing body waits
    for its chains, then re-raises its own error; a clean body re-raises
    the first failed chain's error in spawn order."""
    finished = []

    def slow(tag):
        time.sleep(0.3)
        finished.append(tag)

    def fail(msg):
        raise ValueError(msg)

    with pytest.raises(RuntimeError, match="body"):
        with chains() as spawn:
            spawn(lambda: slow("a"))
            spawn(lambda: fail("chain"))
            raise RuntimeError("body")
    assert finished == ["a"]
    with pytest.raises(ValueError, match="first"):
        with chains() as spawn:
            spawn(lambda: slow("b"))
            spawn(lambda: fail("first"))
            spawn(lambda: fail("second"))
    assert finished == ["a", "b"]
