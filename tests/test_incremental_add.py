"""APPEND-ONLY incremental add (reference ``add`` semantics, gsearch
src/dna/dnasketch.rs:106-134, rank continuation :405,427-433):

* clusters after add == clusters of a from-scratch run over the union;
* per-add work is O(new): only new rows are sketched/banded/verified
  (asserted from the pipeline_state add_* delta rows);
* stored checkpoint files for old rows are never rewritten;
* id clashes and wrong ``all_images`` are refused."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.pipeline import NearDupPipeline, incremental_add

CFG = PipelineConfig()
CKPT_ADD = "/tmp/gsearch_spark_ckpt_add"
CKPT_FULL = "/tmp/gsearch_spark_ckpt_addfull"
CKPT_TWO = "/tmp/gsearch_spark_ckpt_add2"


def _assign(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def _state_rows(spark, ckpt):
    state = spark.read.parquet(os.path.join(ckpt, "pipeline_state"))
    rows = (state.groupBy("stage").agg(F.sum("rows_out").alias("n"))
            .collect())
    return {r["stage"]: r["n"] for r in rows}


@pytest.fixture(scope="module")
def add_build(spark, small_fixture_dir):
    """CKPT_ADD, built ONCE per module (not by a predecessor test, so the
    dependent tests below survive -k selection and reordering): base
    pipeline over the first 80% of ids + one add of the last 20%.  Dup
    rows live at the END of the fixture (generator layout), so the added
    batch contains duplicates OF old rows -> clusters must merge."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    old = images.filter(F.col("image_id") < cut)
    new = images.filter(F.col("image_id") >= cut)
    assert new.count() > 0 and old.count() > 0

    shutil.rmtree(CKPT_ADD, ignore_errors=True)
    NearDupPipeline(spark, CFG, CKPT_ADD).run(old, resume=False)
    added = _assign(incremental_add(spark, CFG, CKPT_ADD, new, images))
    return {"images": images, "added": added}


def test_incremental_add_matches_full_run(spark, add_build):
    images = add_build["images"]
    shutil.rmtree(CKPT_FULL, ignore_errors=True)
    full = _assign(NearDupPipeline(spark, CFG, CKPT_FULL).run(
        images, resume=False))
    assert add_build["added"] == full


def test_add_work_is_o_new_not_o_corpus(spark, add_build):
    """The O(new) contract: the add_* delta rows recorded by the module
    fixture's add must be bounded by the NEW slice, not the corpus (the
    round-2 implementation re-banded and re-verified everything)."""
    n_total = add_build["images"].count()
    state = _state_rows(spark, CKPT_ADD)
    n_new = state["add_exact_groups"]          # one row per added image
    assert 0 < n_new < n_total * 0.3
    # sketch/band deltas are bounded by the new slice (reps <= new rows;
    # bands/row = minhash bands + simhash chunk pairs + phash chunk
    # combos + caption band, from the config)
    import math
    per_row = (CFG.bands + math.comb(CFG.simhash_bands, 2)
               + math.comb(CFG.phash_chunks, CFG.phash_combo) + 1)
    assert state["add_signatures"] <= n_new
    assert state["add_bands"] <= n_new * per_row
    # and strictly below what a full re-band would have produced
    assert state["add_bands"] < state["bands"]


def test_incremental_add_two_steps_interleaved(spark, small_fixture_dir):
    """Two sequential adds with INTERLEAVED ids: added rows include ids
    smaller than existing group representatives (the rank-continuation
    corner — a rep keeps its identity; output labels are normalized), and
    the second add runs against an already-appended checkpoint."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    bucket = F.pmod(F.xxhash64("image_id"), F.lit(5))
    first = images.filter(bucket <= 2)       # ~60%, interleaved
    second = images.filter(bucket == 3)
    third = images.filter(bucket == 4)
    assert second.count() > 0 and third.count() > 0

    shutil.rmtree(CKPT_TWO, ignore_errors=True)
    NearDupPipeline(spark, CFG, CKPT_TWO).run(first, resume=False)
    incremental_add(spark, CFG, CKPT_TWO, second,
                    first.unionByName(second))
    added = _assign(incremental_add(spark, CFG, CKPT_TWO, third, images))

    shutil.rmtree(CKPT_FULL, ignore_errors=True)
    full = _assign(NearDupPipeline(spark, CFG, CKPT_FULL).run(
        images, resume=False))
    assert added == full


def test_incremental_add_pure_duplicates(spark, small_fixture_dir):
    """Adding EXACT copies of existing content (same bytes+caption, new
    ids) must cost zero sketch/band work — every new row matches a stored
    content key and joins its group as a member (rank continuation), and
    clusters match a full rebuild (labels re-normalize to the new min
    member when the new id sorts first)."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    dup = (images.limit(25)
           .selectExpr("concat('a_', image_id) AS image_id", "bytes", "w",
                       "h", "fmt", "caption", "phash"))
    both = images.unionByName(dup)
    ckpt = "/tmp/gsearch_spark_ckpt_puredup"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    added = _assign(incremental_add(spark, CFG, ckpt, dup, both))

    state = _state_rows(spark, ckpt)
    # empty stages write no per-partition state rows => absent key == 0
    assert state.get("add_signatures", 0) == 0  # zero new reps sketched
    assert state.get("add_bands", 0) == 0

    shutil.rmtree(CKPT_FULL, ignore_errors=True)
    full = _assign(NearDupPipeline(spark, CFG, CKPT_FULL).run(
        both, resume=False))
    assert added == full


def test_probe_pairs_heads_cap_bounds_hot_buckets(spark):
    """The add path's skew guard: probing a viral stored bucket (m old
    members) must emit at most heads_per_bucket pairs per new row — the
    deterministic xxhash64-ordered heads (generation-blind, so repeated
    appends don't bias head selection toward any id prefix) — never
    O(m), while small buckets pair in full."""
    from gsearch_spark.operators.candidates import probe_pairs_vs_stored
    stored = spark.createDataFrame(
        [(1, 777, 0, f"old_{i:04d}") for i in range(100)]      # viral
        + [(2, 888, 0, f"old_{i:04d}") for i in range(3)],     # small
        schema="band_id int, band_hash bigint, salt int, image_id string")
    probe = spark.createDataFrame(
        [(1, 777, "new_a"), (2, 888, "new_a"), (1, 999, "new_b")],
        schema="band_id int, band_hash bigint, image_id string")
    pairs = probe_pairs_vs_stored(probe, stored, heads_per_bucket=16)
    # canonical a<b ordering puts the new id on either side; re-orient
    edges = {(min(p), max(p)): None for p in
             ((r["a"], r["b"]) for r in pairs.collect())}
    olds = {old for (new, old) in edges if new == "new_a"}
    # viral heads = the 16 smallest ids in xxhash64 order (deterministic)
    ranked = spark.createDataFrame(
        [(f"old_{i:04d}",) for i in range(100)], schema="image_id string")
    heads = {r["image_id"] for r in ranked.selectExpr(
        "image_id", "xxhash64(image_id) AS h")
        .orderBy("h", "image_id").limit(16).collect()}
    small = {f"old_{i:04d}" for i in range(3)}  # small bucket pairs fully
    assert olds == heads | small
    assert all(new == "new_a" for new, _ in edges)  # new_b key unmatched


def test_incremental_add_refuses_other_config(spark, add_build):
    import dataclasses
    images = add_build["images"]
    other = dataclasses.replace(CFG, sketch_size=64, bands=8)
    with pytest.raises(ValueError, match="different pipeline config"):
        incremental_add(spark, other, CKPT_ADD, images, images)


def test_incremental_add_refuses_id_clash(spark, add_build):
    images = add_build["images"]
    dup = images.limit(5)  # ids already in the CKPT_ADD build
    with pytest.raises(ValueError, match="already in the build"):
        incremental_add(spark, CFG, CKPT_ADD, dup,
                        images.unionByName(dup))


def test_incremental_add_refuses_wrong_union(spark, add_build):
    images = add_build["images"]
    fresh = images.limit(5).select(
        F.concat(F.lit("zz_"), "image_id").alias("image_id"),
        "bytes", "w", "h", "fmt", "caption", "phash")
    with pytest.raises(ValueError, match="old ∪ new"):
        incremental_add(spark, CFG, CKPT_ADD, fresh, images)


def test_add_cc_is_incremental(spark, add_build):
    """Contraction contract: CC inside the add runs over LABEL-level
    edges induced by the new verified edges (recorded as add_cc_edges),
    never over the stored edge set — and the clusters delta
    (add_clusters) covers only affected clusters plus the new rows, not
    the corpus."""
    n_total = add_build["images"].count()
    state = _state_rows(spark, CKPT_ADD)
    # CC input is bounded by the new verified-edge delta (contraction
    # maps each new edge to <= 1 label edge) — O(new), not O(all edges)
    assert state.get("add_cc_edges", 0) <= state.get(
        "add_verified_edges", 0)
    # the relabel/normalize delta touches affected clusters + new rows
    # only; the stored clusters stage covered the whole (old) corpus
    assert 0 < state["add_clusters"] < state["clusters"]
    assert state["add_clusters"] < n_total * 0.6
    # the partition-level rewrite stages only touched pbuckets
    assert state["add_clusters_rewrite"] <= n_total


def test_add_commit_crash_rolls_forward(spark, add_build, monkeypatch):
    """Atomic-commit contract: kill the commit (a) between stage-file
    moves and (b) mid-partition-swap after the live partition was
    deleted; in both cases the manifest must roll the torn commit
    FORWARD on recovery, leaving the checkpoint identical to an
    uninterrupted add."""
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import (ADD_MANIFEST,
                                                  recover_add_commit)
    images = add_build["images"]
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    old = images.filter(F.col("image_id") < cut)
    new = images.filter(F.col("image_id") >= cut)

    base = "/tmp/gsearch_spark_ckpt_crashbase"
    shutil.rmtree(base, ignore_errors=True)
    NearDupPipeline(spark, CFG, base).run(old, resume=False)

    def crash_scenario(ckpt, attr, crash_on_call):
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.copytree(base, ckpt)
        real = getattr(CheckpointFS, attr)
        calls = {"n": 0}

        def exploding(self, *a, **k):
            calls["n"] += 1
            if calls["n"] == crash_on_call:
                raise RuntimeError("injected crash mid-commit")
            return real(self, *a, **k)

        monkeypatch.setattr(CheckpointFS, attr, exploding)
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                incremental_add(spark, CFG, ckpt, new, images)
        finally:
            monkeypatch.setattr(CheckpointFS, attr, real)
        # torn commit: manifest present, then recovery rolls it forward
        assert os.path.exists(os.path.join(ckpt, ADD_MANIFEST))
        assert recover_add_commit(spark, ckpt)
        assert not os.path.exists(os.path.join(ckpt, ADD_MANIFEST))
        assert not os.path.exists(os.path.join(ckpt, "_add_staging"))
        got = _assign(spark.read.parquet(os.path.join(ckpt, "clusters"))
                      .select("image_id", "cluster_id"))
        assert got == add_build["added"]
        n = spark.read.parquet(os.path.join(ckpt, "exact_groups")).count()
        assert n == images.count()

    # (a) move_children is only called for stage-file appends: crash on
    # the 2nd append (exact_groups moved, signatures mid-flight)
    crash_scenario("/tmp/gsearch_spark_ckpt_crash_a", "move_children", 2)
    # (b) CheckpointFS.rename is only called for clusters partition
    # swaps (move_children renames via the raw Hadoop FS): crash on the
    # 1st swap — AFTER its live partition dir was already deleted, the
    # nastiest window
    crash_scenario("/tmp/gsearch_spark_ckpt_crash_b", "rename", 1)


def test_failed_add_joins_side_chains(spark, add_build, monkeypatch,
                                      assert_settled):
    """verify raising on the main thread must not leave a side chain
    running after incremental_add raises: the endpoint-label prefetch,
    held open until the failure, finishes before the call returns, and
    the same add then succeeds on that build."""
    from gsearch_spark.operators import keyidx, verify
    images = add_build["images"]
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    old = images.filter(F.col("image_id") < cut)
    new = images.filter(F.col("image_id") >= cut)
    ckpt = "/tmp/gsearch_spark_ckpt_add_fail"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(old, resume=False)

    failed = threading.Event()
    finished: "list[float]" = []
    real_lookup = keyidx.lookup_id_index

    def held_lookup(*args, **kwargs):
        df = real_lookup(*args, **kwargs)
        if sys._getframe(1).f_code.co_name != "_ep_prefetch":
            return df

        def collect():
            assert failed.wait(60)
            rows = type(df).collect(df)
            finished.append(time.time())
            return rows
        df.collect = collect
        return df

    def failing_verify(*args, **kwargs):
        failed.set()
        raise RuntimeError("injected verify failure")

    monkeypatch.setattr(keyidx, "lookup_id_index", held_lookup)
    monkeypatch.setattr(verify, "verify_pairs", failing_verify)
    with pytest.raises(RuntimeError, match="injected verify failure"):
        incremental_add(spark, CFG, ckpt, new, images)
    raised_at = time.time()
    assert finished and finished[0] < raised_at, "prefetch outlived the add"
    assert_settled(ckpt)
    monkeypatch.undo()
    assert _assign(incremental_add(spark, CFG, ckpt, new, images)) \
        == add_build["added"]


def test_incremental_add_distributed_cc_fallback(spark, add_build):
    """add_cc_local_max_edges=0 forces the DISTRIBUTED star-CC path for
    the contracted label graph (the bulk-append regime); cluster
    assignments must equal the driver-local fast path's."""
    import dataclasses
    cfg = dataclasses.replace(CFG, add_cc_local_max_edges=0)
    images = add_build["images"]
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    old = images.filter(F.col("image_id") < cut)
    new = images.filter(F.col("image_id") >= cut)
    ckpt = "/tmp/gsearch_spark_ckpt_distcc"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, cfg, ckpt).run(old, resume=False)
    added = _assign(incremental_add(spark, cfg, ckpt, new, images))
    assert added == add_build["added"]


def test_add_tail_gate_moves_bulk_add_to_distributed_tail(
        spark, add_build, small_fixture_dir, monkeypatch):
    """The add tail's ONE gate is the endpoint prefetch's bound
    2·|capped| + n_new <= add_cc_local_max_edges.  A threshold of
    exactly n_edges + n_new (the fixture add's recorded counts) still
    fits the verified edges but not the capped pairs, so the add takes
    the DISTRIBUTED tail (with driver union-find inside cc_roots) — and
    its clusters must equal the default add's."""
    import dataclasses
    from gsearch_spark.operators import pipeline as pl
    state = _state_rows(spark, CKPT_ADD)
    bound = state["add_verified_edges"] + state["add_exact_groups"]
    cfg = dataclasses.replace(CFG, add_cc_local_max_edges=bound)
    images = add_build["images"]
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    ckpt = "/tmp/gsearch_spark_ckpt_tailgate"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, cfg, ckpt).run(
        images.filter(F.col("image_id") < cut), resume=False)
    calls = []
    real = pl.cc_roots
    monkeypatch.setattr(pl, "cc_roots",
                        lambda *a, **k: calls.append(a[1]) or real(*a, **k))
    added = _assign(incremental_add(
        spark, cfg, ckpt, images.filter(F.col("image_id") >= cut), images))
    # only the distributed tail calls cc_roots, and its label graph is
    # small enough for the driver union-find inside it
    assert len(calls) == 1 and calls[0] <= bound
    assert added == add_build["added"]


def test_stage_rows_in_names_the_predecessor(spark, add_build):
    """pipeline_state lineage: every stage's rows_in is the rows_out of
    its LOGICAL predecessor (-1 for a source stage) — never whichever
    concurrent recorder happened to finish last."""
    pred = {"exact_groups": None, "signatures": "exact_groups",
            "bands": "signatures", "candidate_pairs": "bands",
            "verified_edges": "candidate_pairs",
            "ck_index": "exact_groups", "edge_index": "verified_edges",
            "clusters": "verified_edges", "id_index": "clusters",
            "add_lookup_idclash": None, "add_lookup_ck": None,
            "add_lookup_touched_reps": None, "add_exact_groups": None,
            "add_signatures": "add_exact_groups",
            "add_bands": "add_signatures",
            "add_candidate_pairs": "add_bands",
            "add_verified_edges": "add_candidate_pairs",
            "add_lookup_labels": "add_verified_edges",
            "add_cc_edges": "add_verified_edges",
            "add_clusters": "add_cc_edges",
            "add_clusters_rewrite": "add_clusters",
            "add_index_delta": "add_clusters"}
    state = spark.read.parquet(os.path.join(CKPT_ADD, "pipeline_state"))
    rows = (state.groupBy("stage")
            .agg(F.sum("rows_out").alias("n"),
                 F.collect_set("rows_in").alias("rows_in")).collect())
    n = {r["stage"]: r["n"] for r in rows}
    rows_in = {r["stage"]: r["rows_in"] for r in rows}
    assert set(n) == set(pred)
    for stage, before in pred.items():
        assert rows_in[stage] == [n[before] if before else -1], stage


def test_incremental_add_four_generations(spark, small_fixture_dir):
    """Endurance: FOUR sequential adds (hash-interleaved slices, so every
    generation contains ids sorting below existing reps and duplicates of
    rows from several earlier generations).  Clusters must equal a
    from-scratch rebuild after the last add — compounding errors in rank
    continuation, label re-normalization, bucket swaps or checkpoint
    appends across generations would surface here — and the clusters
    checkpoint must hold exactly one row per image."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    bucket = F.pmod(F.xxhash64("image_id"), F.lit(8))
    slices = [images.filter(bucket <= 4)] + [
        images.filter(bucket == b) for b in (5, 6, 7)]

    ckpt = "/tmp/gsearch_spark_ckpt_add4gen"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(slices[0], resume=False)
    sofar = slices[0]
    added = None
    for s in slices[1:]:
        sofar = sofar.unionByName(s)
        added = _assign(incremental_add(spark, CFG, ckpt, s, sofar))

    shutil.rmtree(CKPT_FULL, ignore_errors=True)
    full = _assign(NearDupPipeline(spark, CFG, CKPT_FULL).run(
        images, resume=False))
    assert added == full
    clusters = spark.read.parquet(os.path.join(ckpt, "clusters"))
    assert clusters.count() == images.count()
    assert clusters.select("image_id").distinct().count() == images.count()


def test_small_add_prunes_clusters_rewrite(spark, small_fixture_dir):
    """Partition-pruning proof for the common case — a SMALL append:
    3 fresh rows (same pixels as existing images but unrelated captions,
    so they verify as non-dups and land as singletons) must touch only
    their own pbuckets: the staged clusters rewrite covers a fraction of
    the corpus, not all of it, and the cluster delta is exactly the new
    rows."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ckpt = "/tmp/gsearch_spark_ckpt_smalladd"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)

    tiny = (images.limit(3)
            .selectExpr("concat('zz_', image_id) AS image_id", "bytes",
                        "w", "h", "fmt",
                        "concat('q-', md5(image_id)) AS caption", "phash"))
    incremental_add(spark, CFG, ckpt, tiny, images.unionByName(tiny))

    n_total = images.count() + 3
    state = _state_rows(spark, ckpt)
    assert state["add_clusters"] == 3          # delta = the new singletons
    # rewrite touched <= 3 of cluster_buckets partitions
    assert state["add_clusters_rewrite"] <= n_total * (
        3 / CFG.cluster_buckets) + 3 + n_total * 0.05
    clusters = spark.read.parquet(os.path.join(ckpt, "clusters"))
    assert clusters.count() == n_total
