"""Takedown path (operators/remove.py): after any mix of removes the
clusters table must equal a from-scratch rebuild over the surviving
images — label renames, rep promotion, whole-group death and cluster
SPLITS included — and the add/request surfaces must keep matching
rebuild behavior on top of merge-on-read removal state.

The reference's index is insert-only (src/bin/gsearch.rs:488-505); this
is deliberate beyond-reference surface for the training-data pipeline
(takedown/right-to-be-forgotten), built as the mirror image of the
append path's manifest commit."""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from gsearch_spark.codec import encode_image
from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.pipeline import (NearDupPipeline,
                                              incremental_add,
                                              recover_add_commit)
from gsearch_spark.operators.remove import (read_dead_groups,
                                            read_rep_remap,
                                            read_tombstones, remove_images)
from gsearch_spark.phash import phash64

CFG = PipelineConfig()
IMG_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long")


def _assign(df) -> dict:
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def _clusters(spark, ckpt) -> dict:
    return _assign(spark.read.parquet(f"{ckpt}/clusters")
                   .select("image_id", "cluster_id"))


def _rebuild(spark, images, ckpt) -> dict:
    shutil.rmtree(ckpt, ignore_errors=True)
    return _assign(NearDupPipeline(spark, CFG, ckpt)
                   .run(images, resume=False))


def _row(image_id: str, pixels: np.ndarray, caption: str):
    data = encode_image(pixels, "png")
    h, w = pixels.shape[:2]
    return (image_id, bytearray(data), w, h, "png", caption,
            phash64(pixels))


def _pixels(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)


@pytest.fixture(scope="module")
def removal_build(spark, small_fixture_dir):
    """Fixture build + a removal batch covering the three removal
    shapes: a non-rep member, a founding rep with surviving exact-dup
    members, and one whole (small) cluster."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ckpt = "/tmp/gsearch_spark_ckpt_remove"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    groups = spark.read.parquet(f"{ckpt}/exact_groups")
    clusters = spark.read.parquet(f"{ckpt}/clusters")
    nonrep = [r[0] for r in groups
              .filter(F.col("image_id") != F.col("rep_id"))
              .select("image_id").orderBy("image_id").limit(1).collect()]
    rep = [r[0] for r in groups.groupBy("rep_id")
           .agg(F.count(F.lit(1)).alias("n")).filter("n >= 2")
           .select("rep_id").orderBy("rep_id").limit(1).collect()]
    # a whole small cluster (2-4 members), disjoint from the picks above
    rows = (clusters.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.collect_list("image_id").alias("m"))
            .filter("n between 2 and 4").orderBy("cluster_id")
            .limit(3).collect())
    picked = set(nonrep + rep)
    whole_members: "list[str]" = []
    for r in rows:
        if not (set(r["m"]) & picked):
            whole_members = sorted(r["m"])
            break
    rm_ids = sorted(set(nonrep + rep + whole_members))
    assert nonrep and rep and whole_members, (nonrep, rep, whole_members)
    rm = spark.createDataFrame([(i,) for i in rm_ids], "image_id string")
    remove_images(spark, CFG, ckpt, rm)
    return {"images": images, "ckpt": ckpt, "rm_ids": rm_ids,
            "rep_removed": rep[0]}


def test_remove_matches_rebuild_on_survivors(spark, removal_build):
    b = removal_build
    surv = b["images"].join(
        spark.createDataFrame([(i,) for i in b["rm_ids"]],
                              "image_id string"), "image_id", "left_anti")
    want = _rebuild(spark, surv, "/tmp/gsearch_spark_ckpt_remove_truth")
    got = _clusters(spark, b["ckpt"])
    assert got == want
    assert not set(b["rm_ids"]) & set(got)


@pytest.fixture(scope="module")
def gate_removal(spark):
    """A cluster of two exact groups joined by one verified edge (g_a
    with its exact copy g_a2, and the caption-containment near-dup g_b)
    plus an unrelated singleton.  Removing g_a2 and g_c is a batch past
    a literal bound of 1 whose affected cluster keeps its edge, so the
    remove's CC sees a non-empty graph.  Returns the images, that batch
    and the rebuild over its survivors."""
    px = _pixels(41)
    images = spark.createDataFrame(
        [_row("g_a", px, "red cat"), _row("g_a2", px, "red cat"),
         _row("g_b", px, "red cat on mat"),
         _row("g_c", _pixels(42), "unrelated row")], IMG_SCHEMA)
    rm_ids = ["g_a2", "g_c"]
    want = _rebuild(spark, images.filter(~F.col("image_id").isin(rm_ids)),
                    "/tmp/gsearch_spark_ckpt_remove_gate_truth")
    assert want == {"g_a": "g_a", "g_b": "g_a"}
    return images, rm_ids, want


@pytest.mark.parametrize("gate, bound", [("BROADCAST_KEYS_MAX", 1),
                                         ("add_cc_local_max_edges", 0)])
def test_remove_forced_gates_match_rebuild(spark, gate_removal, gate,
                                           bound, monkeypatch):
    """Each remove size gate forced past its bound at a tiny threshold:
    keyidx.BROADCAST_KEYS_MAX=1 sends every pruned lookup through the
    key-set probe's semi-join branch; add_cc_local_max_edges=0 sends
    the surviving edges through cc_roots' distributed star CC.  The
    clusters must still equal the rebuild on the survivors."""
    import dataclasses
    from gsearch_spark.operators import keyidx
    images, rm_ids, want = gate_removal
    if gate == "BROADCAST_KEYS_MAX":
        monkeypatch.setattr(keyidx, gate, bound)
        cfg = CFG
    else:
        cfg = dataclasses.replace(CFG, **{gate: bound})
    ckpt = f"/tmp/gsearch_spark_ckpt_remove_gate_{gate}"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, cfg, ckpt).run(images, resume=False)
    got = _assign(remove_images(spark, cfg, ckpt, spark.createDataFrame(
        [(i,) for i in rm_ids], "image_id string")))
    assert got == want
    # the gate's observed size really was past the bound
    state = spark.read.parquet(f"{ckpt}/pipeline_state")
    n_cc = (state.filter(F.col("stage") == "rm_cc_edges")
            .agg(F.sum("rows_out")).collect()[0][0])
    observed = {"BROADCAST_KEYS_MAX": len(rm_ids),
                "add_cc_local_max_edges": n_cc}[gate]
    assert observed > bound


def test_remove_sidecars_recorded(spark, removal_build):
    b = removal_build
    tomb = {r["image_id"] for r in
            read_tombstones(spark, b["ckpt"]).collect()}
    assert tomb == set(b["rm_ids"])
    remap = {r["old_rep"]: r["new_rep"] for r in
             read_rep_remap(spark, b["ckpt"]).collect()}
    # the removed founding rep with survivors points at its minimum
    # surviving member
    assert b["rep_removed"] in remap
    groups = spark.read.parquet(f"{b['ckpt']}/exact_groups")
    members = sorted(r["image_id"] for r in groups
                     .filter(F.col("rep_id") == b["rep_removed"])
                     .collect() if r["image_id"] not in set(b["rm_ids"]))
    assert remap[b["rep_removed"]] == members[0]


def test_empty_observed_stage_keeps_lineage_row(spark, removal_build):
    """The fixture removal leaves no surviving edge in its affected
    clusters, so rm_cc_edges — counted by an Observation on its eager
    localCheckpoint — comes out empty: the remove still returned, and
    the stage records 0 rows in its one part_id -1 lineage row."""
    state = (spark.read.parquet(f"{removal_build['ckpt']}/pipeline_state")
             .filter(F.col("stage") == "rm_cc_edges").collect())
    assert [(r["part_id"], r["rows_in"] > 0, r["rows_out"])
            for r in state] == [(-1, True, 0)]


def test_remove_refusals(spark, removal_build):
    b = removal_build
    with pytest.raises(ValueError, match="unknown image_ids"):
        remove_images(spark, CFG, b["ckpt"], spark.createDataFrame(
            [("no_such_id",)], "image_id string"))
    with pytest.raises(ValueError, match="already removed"):
        remove_images(spark, CFG, b["ckpt"], spark.createDataFrame(
            [(b["rm_ids"][0],)], "image_id string"))


def test_request_after_remove_remaps_and_excludes(spark, removal_build):
    """A probe identical to a tombstoned-but-surviving group's content
    must come back pointing at the promoted surviving member; no
    tombstoned id may appear in any answer."""
    from gsearch_spark.operators.request import request
    b = removal_build
    remap = {r["old_rep"]: r["new_rep"] for r in
             read_rep_remap(spark, b["ckpt"]).collect()}
    promoted = remap[b["rep_removed"]]
    probe_src = (b["images"]
                 .filter(F.col("image_id") == b["rep_removed"])
                 .select(F.lit("q_probe").alias("image_id"), "bytes",
                         "caption", "phash"))
    ans = request(spark, b["ckpt"], probe_src, k=5,
                  max_distance=0.6).collect()
    assert ans, "probe found nothing"
    targets = [r["target_id"] for r in ans]
    assert not (set(targets) & set(b["rm_ids"])), targets
    assert targets[0] == promoted or promoted in targets, (targets,
                                                           promoted)


def test_remove_splits_cluster(spark):
    """Bridge removal: a--b near-dup (caption containment), b--c
    near-dup, a--c NOT a dup (incompatible captions) — all three share
    pixels so LSH proposes every pair, verify accepts only the chain.
    Removing b's whole group must SPLIT {a,b,c} into {a}, {c}, exactly
    like a rebuild on the survivors."""
    px = _pixels(7)
    rows = [_row("s_a", px, "red cat"),
            _row("s_b", px, "red cat on mat"),
            _row("s_c", px, "on mat"),
            _row("s_d", _pixels(8), "something else entirely")]
    images = spark.createDataFrame(rows, IMG_SCHEMA)
    ckpt = "/tmp/gsearch_spark_ckpt_split"
    shutil.rmtree(ckpt, ignore_errors=True)
    before = _assign(NearDupPipeline(spark, CFG, ckpt)
                     .run(images, resume=False))
    assert before["s_a"] == before["s_b"] == before["s_c"] == "s_a"
    out = remove_images(spark, CFG, ckpt, spark.createDataFrame(
        [("s_b",)], "image_id string"))
    got = _assign(out)
    want = _rebuild(spark,
                    images.filter(F.col("image_id") != "s_b"),
                    "/tmp/gsearch_spark_ckpt_split_truth")
    assert got == want
    assert got["s_a"] == "s_a" and got["s_c"] == "s_c"
    assert got["s_a"] != got["s_c"], "cluster did not split"


def test_add_after_remove_matches_rebuild(spark, small_fixture_dir):
    """Append after takedown: the add must neither resurrect removed
    content nor lose near-dup edges to groups whose founding rep was
    tombstoned (probe pairs remap to the promoted member)."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ids = sorted(r["image_id"] for r in images.select("image_id")
                 .collect())
    cut = ids[int(len(ids) * 0.8)]
    base = images.filter(F.col("image_id") < cut)
    later = images.filter(F.col("image_id") >= cut)
    ckpt = "/tmp/gsearch_spark_ckpt_rm_add"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(base, resume=False)
    groups = spark.read.parquet(f"{ckpt}/exact_groups")
    rep = [r[0] for r in groups.groupBy("rep_id")
           .agg(F.count(F.lit(1)).alias("n")).filter("n >= 2")
           .select("rep_id").orderBy("rep_id").limit(1).collect()]
    nonrep = [r[0] for r in groups
              .filter(F.col("image_id") != F.col("rep_id"))
              .filter(~F.col("image_id").isin(rep))
              .select("image_id").orderBy("image_id").limit(2).collect()]
    rm_ids = sorted(set(rep + nonrep))
    rm = spark.createDataFrame([(i,) for i in rm_ids], "image_id string")
    remove_images(spark, CFG, ckpt, rm)
    surv_base = base.join(rm, "image_id", "left_anti")
    all_after = surv_base.unionByName(later)
    got = _assign(incremental_add(spark, CFG, ckpt, later, all_after))
    want = _rebuild(spark, all_after, "/tmp/gsearch_spark_ckpt_rm_add_t")
    assert got == want


def test_dead_group_content_readds_fresh(spark):
    """Removing a group's last member kills the group; re-adding
    byte-and-caption-identical content under a NEW id must build a
    fresh group (no resurrection through the lingering ck_index row),
    while re-using the REMOVED id stays refused."""
    px = _pixels(21)
    images = spark.createDataFrame(
        [_row("d_a", px, "dead content"),
         _row("d_b", _pixels(22), "bystander row")], IMG_SCHEMA)
    ckpt = "/tmp/gsearch_spark_ckpt_dead"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    remove_images(spark, CFG, ckpt, spark.createDataFrame(
        [("d_a",)], "image_id string"))
    assert [r["rep_id"] for r in
            read_dead_groups(spark, ckpt).collect()] == ["d_a"]
    reborn = spark.createDataFrame([_row("d_new", px, "dead content")],
                                   IMG_SCHEMA)
    surv = images.filter(F.col("image_id") != "d_a")
    got = _assign(incremental_add(spark, CFG, ckpt, reborn,
                                  surv.unionByName(reborn)))
    assert got == {"d_b": "d_b", "d_new": "d_new"}
    # id reuse is refused forever (lineage discipline)
    with pytest.raises(ValueError, match="already in the build"):
        incremental_add(spark, CFG, ckpt,
                        spark.createDataFrame([_row("d_a", px, "x")],
                                              IMG_SCHEMA),
                        surv.unionByName(reborn).unionByName(
                            spark.createDataFrame([_row("d_a", px, "x")],
                                                  IMG_SCHEMA)))


def test_remove_commit_crash_rolls_forward(spark, monkeypatch):
    """Kill the remove mid-commit (first clusters-partition swap
    rename); recover_add_commit must roll the manifest forward to the
    exact state of an uninterrupted remove."""
    from gsearch_spark.fs import CheckpointFS
    px1, px2 = _pixels(31), _pixels(32)
    rows = [_row("c_a", px1, "crash cap"), _row("c_b", px1, "crash cap"),
            _row("c_c", px2, "other")]
    images = spark.createDataFrame(rows, IMG_SCHEMA)
    clean, crash = ("/tmp/gsearch_spark_ckpt_rmc_clean",
                    "/tmp/gsearch_spark_ckpt_rmc_crash")
    for ckpt in (clean, crash):
        shutil.rmtree(ckpt, ignore_errors=True)
        NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    rm = spark.createDataFrame([("c_a",)], "image_id string")
    remove_images(spark, CFG, clean, rm)

    real_rename = CheckpointFS.rename
    calls = {"n": 0}

    def exploding(self, src, dst):
        calls["n"] += 1
        if calls["n"] == 1 and "/clusters/pbucket=" in str(src):
            raise RuntimeError("injected crash mid-remove-commit")
        return real_rename(self, src, dst)

    monkeypatch.setattr(CheckpointFS, "rename", exploding)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            remove_images(spark, CFG, crash, rm)
    finally:
        monkeypatch.setattr(CheckpointFS, "rename", real_rename)
    assert recover_add_commit(spark, crash) is True
    assert _clusters(spark, crash) == _clusters(spark, clean)
    assert ({r["image_id"] for r in read_tombstones(spark, crash)
             .collect()}
            == {r["image_id"] for r in read_tombstones(spark, clean)
                .collect()})
    # and the healed build keeps mutating normally
    out = remove_images(spark, CFG, crash, spark.createDataFrame(
        [("c_c",)], "image_id string"))
    assert _assign(out) == {"c_b": "c_b"}


def test_remove_commit_refused_rename_rolls_forward(spark, monkeypatch):
    """A clusters-partition rename the FS refuses — ``False``, the
    Hadoop contract's failure signal — fails the remove with its
    manifest left, instead of dropping the manifest and the staging dir
    after the live partition was deleted; recover_add_commit then gives
    the clusters of an uninterrupted remove."""
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import ADD_MANIFEST
    px1, px2 = _pixels(33), _pixels(34)
    images = spark.createDataFrame(
        [_row("r_a", px1, "refused cap"), _row("r_b", px1, "refused cap"),
         _row("r_c", px2, "other")], IMG_SCHEMA)
    clean, crash = ("/tmp/gsearch_spark_ckpt_rmr_clean",
                    "/tmp/gsearch_spark_ckpt_rmr_crash")
    for ckpt in (clean, crash):
        shutil.rmtree(ckpt, ignore_errors=True)
        NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    rm = spark.createDataFrame([("r_a",)], "image_id string")
    remove_images(spark, CFG, clean, rm)

    real_rename = CheckpointFS.rename
    refused: "list[str]" = []

    def refusing(self, src, dst):
        if not refused and "/clusters/pbucket=" in str(src):
            refused.append(src)
            return False
        return real_rename(self, src, dst)

    monkeypatch.setattr(CheckpointFS, "rename", refusing)
    with pytest.raises(IOError, match="commit rename failed"):
        remove_images(spark, CFG, crash, rm)
    monkeypatch.undo()
    assert refused
    assert os.path.exists(f"{crash}/{ADD_MANIFEST}")
    assert recover_add_commit(spark, crash) is True
    assert _clusters(spark, crash) == _clusters(spark, clean)


def test_failed_remove_joins_side_chains(spark, monkeypatch,
                                         assert_settled):
    """cc_roots raising must not leave a side chain writing into
    _add_staging after remove_images raises and drops the writer lock:
    the tombstone staging write, held open until the failure, finishes
    before the call returns, and the same remove then succeeds."""
    from pyspark.sql.readwriter import DataFrameWriter
    from gsearch_spark.operators import remove
    px1, px2 = _pixels(41), _pixels(42)
    images = spark.createDataFrame(
        [_row("f_a", px1, "fail cap"), _row("f_b", px1, "fail cap"),
         _row("f_c", px2, "other")], IMG_SCHEMA)
    ckpt = "/tmp/gsearch_spark_ckpt_rm_fail"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    rm = spark.createDataFrame([("f_a",)], "image_id string")

    failed = threading.Event()
    finished: "list[float]" = []
    real_parquet = DataFrameWriter.parquet

    def held_parquet(self, path, *args, **kwargs):
        if not path.endswith(f"/_add_staging/{remove.TOMBSTONES}"):
            return real_parquet(self, path, *args, **kwargs)
        assert failed.wait(60)
        real_parquet(self, path, *args, **kwargs)
        finished.append(time.time())

    def failing_cc(*args, **kwargs):
        failed.set()
        raise RuntimeError("injected CC failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", held_parquet)
    monkeypatch.setattr(remove, "cc_roots", failing_cc)
    with pytest.raises(RuntimeError, match="injected CC failure"):
        remove_images(spark, CFG, ckpt, rm)
    raised_at = time.time()
    assert finished and finished[0] < raised_at, \
        "tombstone write outlived the remove"
    assert_settled(ckpt)
    monkeypatch.undo()
    assert _assign(remove_images(spark, CFG, ckpt, rm)) == \
        {"f_b": "f_b", "f_c": "f_c"}


def test_purge_restores_zero_removal_build(spark, removal_build):
    """After purge_removed the build must BEHAVE byte-identically to one
    that never held the removed rows: sidecars gone, no tombstoned id in
    any stage table, promoted reps re-keyed (is_rep restored), and a
    subsequent add still equals a rebuild."""
    from gsearch_spark.operators.keyidx import (lookup_id_index,
                                                read_edge_index)
    from gsearch_spark.operators.remove import (has_removals,
                                                purge_removed)
    b = removal_build
    ckpt = b["ckpt"]
    before = _clusters(spark, ckpt)
    remap = {r["old_rep"]: r["new_rep"] for r in
             read_rep_remap(spark, ckpt).collect()}
    stats = purge_removed(spark, CFG, ckpt)
    assert stats["tombstones_purged"] == len(b["rm_ids"])
    assert not has_removals(spark, ckpt)
    assert _clusters(spark, ckpt) == before  # purge never moves clusters
    rm_set = set(b["rm_ids"])
    for name, col in (("exact_groups", "image_id"),
                      ("signatures", "image_id"), ("bands", "image_id"),
                      ("ck_index", "rep_id")):
        vals = {r[0] for r in spark.read.parquet(f"{ckpt}/{name}")
                .select(col).distinct().collect()}
        assert not (vals & rm_set), (name, vals & rm_set)
    ei = read_edge_index(spark, f"{ckpt}/edge_index")
    for col in ("a", "b"):
        vals = {r[0] for r in ei.select(col).distinct().collect()}
        assert not (vals & rm_set), ("edge_index", col)
    # promoted rep carries is_rep again and owns its group in the index
    promoted = remap[b["rep_removed"]]
    probe = spark.createDataFrame([(promoted,)], "image_id string")
    row = lookup_id_index(spark, f"{ckpt}/id_index", probe, CFG).collect()
    assert row and row[0]["is_rep"] and row[0]["rep_id"] == promoted
    # purge is idempotent / re-runnable
    assert purge_removed(spark, CFG, ckpt)["tombstones_purged"] == 0


def test_add_and_request_after_purge_match_rebuild(spark,
                                                   small_fixture_dir):
    """End-to-end lifecycle: build -> remove (incl. a whole group and a
    rep with survivors) -> purge -> add; clusters equal a rebuild and a
    request against the purged+added build returns the same answers as
    against the rebuild."""
    from gsearch_spark.operators.remove import purge_removed
    from gsearch_spark.operators.request import request
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ids = sorted(r["image_id"] for r in images.select("image_id")
                 .collect())
    cut = ids[int(len(ids) * 0.8)]
    base = images.filter(F.col("image_id") < cut)
    later = images.filter(F.col("image_id") >= cut)
    ckpt = "/tmp/gsearch_spark_ckpt_purge_add"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(base, resume=False)
    groups = spark.read.parquet(f"{ckpt}/exact_groups")
    rep = [r[0] for r in groups.groupBy("rep_id")
           .agg(F.count(F.lit(1)).alias("n")).filter("n >= 2")
           .select("rep_id").orderBy("rep_id").limit(1).collect()]
    solo = [r[0] for r in groups.groupBy("rep_id")
            .agg(F.count(F.lit(1)).alias("n")).filter("n = 1")
            .select("rep_id").orderBy("rep_id").limit(1).collect()]
    rm_ids = sorted(set(rep + solo))
    rm = spark.createDataFrame([(i,) for i in rm_ids], "image_id string")
    remove_images(spark, CFG, ckpt, rm)
    purge_removed(spark, CFG, ckpt)
    surv = base.join(rm, "image_id", "left_anti")
    all_after = surv.unionByName(later)
    got = _assign(incremental_add(spark, CFG, ckpt, later, all_after))
    truth_ckpt = "/tmp/gsearch_spark_ckpt_purge_add_t"
    want = _rebuild(spark, all_after, truth_ckpt)
    assert got == want
    probes = (all_after.orderBy("image_id").limit(8)
              .select(F.concat(F.lit("q_"), "image_id").alias("image_id"),
                      "bytes", "caption", "phash"))
    def _ans(ck):
        return sorted((r["query_id"], r["target_id"], r["rank"])
                      for r in request(spark, ck, probes, k=3,
                                       max_distance=0.6).collect())
    assert _ans(ckpt) == _ans(truth_ckpt)


PURGED = ("exact_groups", "signatures", "bands", "candidate_pairs",
          "verified_edges", "edge_index", "ck_index", "id_index")
SIDECARS = ("tombstones", "dead_groups", "rep_remap")


@pytest.fixture(scope="module")
def purge_base(spark):
    """A build holding all three kinds of removal state, ready to purge:
    g_a (removed founding rep) with its exact copy g_a2 (promoted), the
    near-dup g_b (its verified edge re-keys to g_a2) and g_c (a removed
    singleton: a dead group).  Returns the build dir."""
    px = _pixels(61)
    images = spark.createDataFrame(
        [_row("g_a", px, "red cat"), _row("g_a2", px, "red cat"),
         _row("g_b", px, "red cat on mat"),
         _row("g_c", _pixels(62), "unrelated row")], IMG_SCHEMA)
    ckpt = "/tmp/gsearch_spark_ckpt_purge_base"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    remove_images(spark, CFG, ckpt, spark.createDataFrame(
        [("g_a",), ("g_c",)], "image_id string"))
    return ckpt


def _purge_snapshot(spark, ckpt) -> dict:
    """Every purged table's rows, the clusters, which sidecars exist and
    the id_index lookup of every image ever built."""
    from gsearch_spark.operators.keyidx import lookup_id_index
    from gsearch_spark.operators.pipeline import read_layout
    snap = {name: sorted((tuple(r) for r in
                          read_layout(spark, ckpt, name).collect()), key=repr)
            for name in PURGED + ("clusters",)}
    snap["sidecars"] = [n for n in SIDECARS
                        if os.path.exists(f"{ckpt}/{n}")]
    probe = spark.createDataFrame(
        [(i,) for i in ("g_a", "g_a2", "g_b", "g_c")], "image_id string")
    snap["lookups"] = sorted(
        (tuple(r) for r in lookup_id_index(spark, f"{ckpt}/id_index", probe,
                                           CFG).collect()), key=repr)
    return snap


@pytest.mark.parametrize("window", ["first_table_rename",
                                    "first_sidecar_delete"])
def test_purge_crash_rolls_forward(spark, purge_base, window, monkeypatch,
                                   assert_settled):
    """Purge commits through one manifest: crashed at its first table
    rename, or at its first sidecar delete (by then every table rename
    has landed), it leaves the manifest, and recover_add_commit gives
    the tables, sidecars and id_index lookups of an uninterrupted purge,
    with no staging dir left."""
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import ADD_MANIFEST
    from gsearch_spark.operators.remove import purge_removed
    clean, crash = (f"{purge_base}_clean", f"{purge_base}_crash_{window}")
    for ckpt in (clean, crash):
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.copytree(purge_base, ckpt)
    purge_removed(spark, CFG, clean)
    want = _purge_snapshot(spark, clean)
    assert want["sidecars"] == []

    staged_left: "list[list[str]]" = []
    if window == "first_table_rename":
        real = CheckpointFS.rename

        def exploding(self, src, dst):
            if str(src).startswith(f"{crash}/_add_staging/"):
                raise RuntimeError("injected crash mid-purge-commit")
            return real(self, src, dst)
        monkeypatch.setattr(CheckpointFS, "rename", exploding)
    else:
        real = CheckpointFS.delete

        def exploding(self, path):
            if path in {f"{crash}/{n}" for n in SIDECARS}:
                staged_left.append([n for n in PURGED if os.path.exists(
                    f"{crash}/_add_staging/{n}")])
                raise RuntimeError("injected crash mid-purge-commit")
            return real(self, path)
        monkeypatch.setattr(CheckpointFS, "delete", exploding)
    with pytest.raises(RuntimeError, match="injected crash"):
        purge_removed(spark, CFG, crash)
    monkeypatch.undo()
    assert os.path.exists(f"{crash}/{ADD_MANIFEST}")
    if window == "first_sidecar_delete":
        assert staged_left and all(left == [] for left in staged_left)
    assert recover_add_commit(spark, crash) is True
    assert _purge_snapshot(spark, crash) == want
    assert not os.path.exists(f"{crash}/_add_staging")
    assert_settled(crash)


def _joins(df) -> int:
    """Join operators in ``df``'s optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if line.lstrip(" :+-").startswith("Join "))


def test_removal_sidecars_fold_out_until_a_remove(spark):
    """The removal state is applied unconditionally, as data.  On a
    build without removal sidecars they read as empty local relations,
    and the optimizer folds every join they feed: the add's re-pointed
    stored-pair probe keeps no join at all, the request keeps only its
    own.  After one remove the sidecar joins are in both plans."""
    from gsearch_spark.operators.pipeline import read_layout
    from gsearch_spark.operators.remove import pair_fix, read_removal_state
    from gsearch_spark.operators.request import request
    px = _pixels(51)
    images = spark.createDataFrame(
        [_row("z_a", px, "blue dog"), _row("z_a2", px, "blue dog"),
         _row("z_b", px, "blue dog on sofa"),
         _row("z_c", _pixels(52), "unrelated row")], IMG_SCHEMA)
    probe = images.filter(F.col("image_id") == "z_b").select(
        F.lit("q").alias("image_id"), "bytes", "caption", "phash")
    ckpt = "/tmp/gsearch_spark_ckpt_rm_fold"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)

    def plan_joins():
        stored = pair_fix(read_layout(spark, ckpt, "candidate_pairs"),
                          *read_removal_state(spark, ckpt), ["src"])
        return _joins(stored), _joins(request(spark, ckpt, probe))

    n_stored, n_request = plan_joins()
    assert n_stored == 0

    remove_images(spark, CFG, ckpt, spark.createDataFrame(
        [("z_a",), ("z_c",)], "image_id string"))
    # z_a was z_a2's founding rep: the group survives under a remap;
    # z_c's group lost its last member
    assert {r["old_rep"]: r["new_rep"] for r in
            read_rep_remap(spark, ckpt).collect()} == {"z_a": "z_a2"}
    assert [r["rep_id"] for r in
            read_dead_groups(spark, ckpt).collect()] == ["z_c"]
    # dead-target anti join + answer remap join on the request; two
    # dead anti joins + two remap joins on the stored pairs
    assert plan_joins() == (4, n_request + 2)


@pytest.mark.parametrize("tail", ["driver", "distributed"])
def test_add_of_remapped_group_matches_rebuild(spark, tail):
    """An add whose new rows join a group whose founding rep was removed
    (the group lives on under its promoted member) and whose new near-dup
    pairs with that founding node only in the stored bands: both add
    tails read the group's label through the promoted member and
    re-point the stored pair, so clusters equal a rebuild over the
    survivors."""
    import dataclasses
    cfg = CFG if tail == "driver" else \
        dataclasses.replace(CFG, add_cc_local_max_edges=0)
    px = _pixels(61)
    base = spark.createDataFrame(
        [_row("r_a", px, "green bird"), _row("r_a2", px, "green bird"),
         _row("r_c", _pixels(62), "unrelated row")], IMG_SCHEMA)
    # r_d's phash is one bit off r_a's: no suffix-pass group joins them,
    # so its only link to the group is the stored-band pair with r_a
    near = _row("r_d", px, "green bird on branch")
    new = spark.createDataFrame(
        [_row("r_a3", px, "green bird"), near[:-1] + (near[-1] ^ 1,)],
        IMG_SCHEMA)
    ckpt = f"/tmp/gsearch_spark_ckpt_rm_remapped_{tail}"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, cfg, ckpt).run(base, resume=False)
    remove_images(spark, cfg, ckpt, spark.createDataFrame(
        [("r_a",)], "image_id string"))
    surv = base.filter(F.col("image_id") != "r_a").unionByName(new)
    got = _assign(incremental_add(spark, cfg, ckpt, new, surv))
    want = _rebuild(spark, surv, f"{ckpt}_truth")
    assert want == {"r_a2": "r_a2", "r_a3": "r_a2", "r_d": "r_a2",
                    "r_c": "r_c"}
    assert got == want


def test_add_refuses_union_missing_a_candidate_payload(spark):
    """``all_images`` without the stored row a new near-dup pairs with:
    the prefilter's inner metadata join would drop that candidate pair
    before any cap or verdict saw it, so the add must refuse instead of
    leaving the new row a singleton."""
    px = _pixels(71)
    base = spark.createDataFrame(
        [_row("u_a", px, "a cat"), _row("u_b", _pixels(72), "other row")],
        IMG_SCHEMA)
    new = spark.createDataFrame([_row("u_n", px, "a cat on a mat")],
                                IMG_SCHEMA)
    ckpt = "/tmp/gsearch_spark_ckpt_union_payload"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(base, resume=False)
    lacking = base.filter(F.col("image_id") != "u_a").unionByName(new)
    with pytest.raises(ValueError, match="old ∪ new"):
        incremental_add(spark, CFG, ckpt, new, lacking)
    assert _assign(incremental_add(spark, CFG, ckpt, new,
                                   base.unionByName(new))) == \
        {"u_a": "u_a", "u_b": "u_b", "u_n": "u_a"}


def test_add_refuses_union_holding_a_removed_row(spark):
    """``all_images`` that still holds a removed row: the suffix pass
    over the new rows' phash groups would pair both new rows with it
    (the id_index still reads it as a rep) and merge them, which a
    rebuild over the survivors does not — so the add must refuse."""
    px = _pixels(81)
    base = spark.createDataFrame(
        [_row("v_r", px, "a dog"), _row("v_b", _pixels(82), "other row")],
        IMG_SCHEMA)
    new = spark.createDataFrame(
        [_row("v_n1", px, "a dog on a sofa"),
         _row("v_n2", px, "a dog in the park")], IMG_SCHEMA)
    ckpt = "/tmp/gsearch_spark_ckpt_union_removed"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(base, resume=False)
    remove_images(spark, CFG, ckpt, spark.createDataFrame(
        [("v_r",)], "image_id string"))
    with pytest.raises(ValueError, match="old ∪ new"):
        incremental_add(spark, CFG, ckpt, new, base.unionByName(new))
    # refused in the setup phase, before any table was staged
    assert not os.path.exists(f"{ckpt}/_add_staging/exact_groups")
    surv = base.filter(F.col("image_id") != "v_r").unionByName(new)
    got = _assign(incremental_add(spark, CFG, ckpt, new, surv))
    assert got == _rebuild(spark, surv, f"{ckpt}_truth")
    assert got["v_n1"] != got["v_n2"]


@pytest.mark.parametrize("field, value", [
    ("shuffle_partitions", 7), ("verify_attach", "shuffle"),
    ("cc_reliable_checkpoints", True), ("add_cc_local_max_edges", 0)])
def test_execution_field_keeps_a_stored_build_mutable(spark, field, value):
    """An execution field only picks between plans with identical
    outputs, so a stored build accepts an add, a remove and a request
    under a config with it retuned — and answers as under the build's
    own config."""
    import dataclasses
    from gsearch_spark.operators.request import request
    cfg = dataclasses.replace(CFG, **{field: value})
    px = _pixels(91)
    base = spark.createDataFrame(
        [_row("x_a", px, "red kite"), _row("x_b", _pixels(92), "other")],
        IMG_SCHEMA)
    new = spark.createDataFrame([_row("x_n", px, "red kite")], IMG_SCHEMA)
    ckpt = f"/tmp/gsearch_spark_ckpt_exec_{field}"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(base, resume=False)
    assert _assign(incremental_add(spark, cfg, ckpt, new,
                                   base.unionByName(new))) == \
        {"x_a": "x_a", "x_b": "x_b", "x_n": "x_a"}
    assert _assign(remove_images(spark, cfg, ckpt, spark.createDataFrame(
        [("x_a",)], "image_id string"))) == {"x_b": "x_b", "x_n": "x_n"}
    probe = new.select(F.lit("q").alias("image_id"), "bytes", "caption",
                       "phash")
    targets = {r["target_id"] for r in
               request(spark, ckpt, probe, cfg=cfg).collect()}
    assert "x_n" in targets and "x_a" not in targets
