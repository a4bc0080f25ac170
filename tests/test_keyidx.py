"""Key-addressed lookup layouts (operators/keyidx.py): the add path's
stored-metadata probes must PRUNE — partition filter from the probe
keys' bucket set plus IN-list row-group pruning on key-sorted files —
and resolve identically to a full scan of the same state, across
generations (LSM latest-wins) and after compaction.

Reference anchor: gsearch's ``add`` addresses its persisted index by
rank and never rescans it (src/dna/dnasketch.rs:106-134); these tests
pin the columnar analog of that contract."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.keyidx import (compact_id_index,
                                            lookup_ck_index,
                                            lookup_id_index,
                                            write_ck_index)
from gsearch_spark.operators.pipeline import NearDupPipeline, incremental_add

CFG = PipelineConfig()
CKPT = "/tmp/gsearch_spark_ckpt_keyidx"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def keyidx_build(spark, small_fixture_dir):
    """Base build over 80% of the fixture + one add of the rest — the
    module-scoped state every lookup test reads."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    cut = ids[int(len(ids) * 0.8)]
    old = images.filter(F.col("image_id") < cut)
    new = images.filter(F.col("image_id") >= cut)
    shutil.rmtree(CKPT, ignore_errors=True)
    NearDupPipeline(spark, CFG, CKPT).run(old, resume=False)
    incremental_add(spark, CFG, CKPT, new, images)
    return {"images": images}


def _full_id_state(spark):
    """Ground truth: latest-gen cluster_id + bool_or(is_rep) per id from
    a FULL scan of id_index."""
    return {r["image_id"]: (r["cluster_id"], r["is_rep"])
            for r in (spark.read.parquet(f"{CKPT}/id_index")
                      .groupBy("image_id")
                      .agg(F.max_by("cluster_id", "gen").alias("cluster_id"),
                           F.bool_or("is_rep").alias("is_rep"))
                      .collect())}


def test_id_lookup_matches_full_scan_and_clusters(spark, keyidx_build):
    """Pruned lookups == full-scan latest-gen state == the live clusters
    checkpoint, for every id (old, re-labelled, and added)."""
    full = _full_id_state(spark)
    clusters = {r["image_id"]: r["cluster_id"]
                for r in spark.read.parquet(f"{CKPT}/clusters")
                .select("image_id", "cluster_id").collect()}
    assert set(full) == set(clusters)
    probe = (keyidx_build["images"].select("image_id").sample(0.3, seed=7)
             .localCheckpoint())
    got = {r["image_id"]: (r["cluster_id"], r["is_rep"])
           for r in lookup_id_index(spark, f"{CKPT}/id_index",
                                    probe, CFG).collect()}
    want_ids = {r["image_id"] for r in probe.collect()} & set(full)
    assert set(got) == want_ids
    for i in got:
        assert got[i] == full[i]
        assert got[i][0] == clusters[i]


def test_ck_lookup_matches_exact_groups(spark, keyidx_build):
    """ck_index probe == the (ck, rep_id) mapping in exact_groups, for
    probed keys; unknown keys return nothing."""
    groups = spark.read.parquet(f"{CKPT}/exact_groups")
    some = groups.select("ck").distinct().limit(50).localCheckpoint()
    got = {r["ck"]: r["rep_id"]
           for r in lookup_ck_index(spark, f"{CKPT}/ck_index",
                                    some, CFG).collect()}
    want = {r["ck"]: r["rep_id"]
            for r in groups.join(some, "ck").select("ck", "rep_id")
            .distinct().collect()}
    assert got == want
    miss = spark.createDataFrame([("no_such_key|x",)], "ck string")
    assert lookup_id_index is not None  # keep flake quiet
    assert lookup_ck_index(spark, f"{CKPT}/ck_index", miss, CFG).count() == 0


def test_lookup_plan_partition_and_rowgroup_prunes(spark, keyidx_build):
    """The executed plan must show BOTH pruning levels: PartitionFilters
    on the hive bucket column and a pushed IN filter on the key column
    (row-group stats pruning on the key-sorted files)."""
    probe = spark.createDataFrame(
        [(r["image_id"],) for r in
         spark.read.parquet(f"{CKPT}/id_index").select("image_id")
         .limit(5).collect()], "image_id string")
    out = lookup_id_index(spark, f"{CKPT}/id_index", probe, CFG)
    out.collect()
    plan = _plan(out)
    assert "PartitionFilters: [ib" in plan.replace("#", " #") or \
        "PartitionFilters: [" in plan and "ib#" in plan.split(
            "PartitionFilters:")[1].split("]")[0], plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "In(image_id" in pushed, plan
    # and the partition filter must actually bind: with key_buckets=64
    # and 5 probe ids, far fewer than 64 partition dirs survive
    part_filter = plan.split("PartitionFilters:")[1].split("]")[0]
    assert part_filter.strip(" [") != "", plan


def test_lookup_midsize_broadcast_semi_same_result(spark, keyidx_build):
    """Probe sets past INLIST_MAX (but under BROADCAST_KEYS_MAX)
    take the broadcast-LocalRelation semi join: same rows as the
    point-lookup form, partition pruning still bound, and no large
    IN-list on the key column in the executed plan."""
    from gsearch_spark.operators import keyidx

    probe = (keyidx_build["images"].select("image_id")
             .limit(keyidx.INLIST_MAX + 20).localCheckpoint())
    out = lookup_id_index(spark, f"{CKPT}/id_index", probe, CFG)
    got = {(r["image_id"], r["cluster_id"], r["is_rep"])
           for r in out.collect()}
    # ground truth via the full-scan latest-gen state
    full = _full_id_state(spark)
    want = {(r["image_id"],) + full[r["image_id"]]
            for r in probe.collect() if r["image_id"] in full}
    assert got == want and len(got) > keyidx.INLIST_MAX
    plan = _plan(out)
    assert "PartitionFilters: [" in plan and "ib#" in plan.split(
        "PartitionFilters:")[1].split("]")[0], plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "In(image_id" not in pushed, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_lookup_semi_join_fallback_same_result(spark, keyidx_build,
                                              monkeypatch):
    """Probe sets past BROADCAST_KEYS_MAX degrade to a semi join over
    the partition-pruned slice — same rows, no IN-list."""
    from gsearch_spark.operators import keyidx

    probe = (keyidx_build["images"].select("image_id").limit(40)
             .localCheckpoint())
    a = {(r["image_id"], r["cluster_id"], r["is_rep"])
         for r in lookup_id_index(spark, f"{CKPT}/id_index",
                                  probe, CFG).collect()}
    monkeypatch.setattr(keyidx, "BROADCAST_KEYS_MAX", 3)
    b = {(r["image_id"], r["cluster_id"], r["is_rep"])
         for r in lookup_id_index(spark, f"{CKPT}/id_index",
                                  probe, CFG).collect()}
    assert a == b and len(a) > 0


@pytest.mark.parametrize("inlist_max, broadcast_max, node, not_node", [
    (64, 64, "In(image_id", "LeftSemi"),       # IN-list pushed into the scan
    (0, 64, "LocalTableScan", "In(image_id"),  # broadcast local-relation semi
    (0, 0, "LeftSemi", "LocalTableScan"),      # semi join against the keys
], ids=["inlist", "broadcast", "semi"])
def test_probe_keys_unpartitioned_branches(spark, keyidx_build,
                                           monkeypatch, inlist_max,
                                           broadcast_max, node, not_node):
    """The key-set probe over an unpartitioned payload table (the add's
    touched-phash slice, the CLI's and the stream's payload membership
    checks), each branch forced by its constants: the same rows as a
    driver-side filter, through the branch's own plan node."""
    from gsearch_spark.operators import keyidx

    images = keyidx_build["images"]
    keys = images.select("image_id").limit(40).localCheckpoint()
    want = {r["image_id"] for r in keys.collect()}
    monkeypatch.setattr(keyidx, "INLIST_MAX", inlist_max)
    monkeypatch.setattr(keyidx, "BROADCAST_KEYS_MAX", broadcast_max)
    out = keyidx.probe_keys(images, "image_id", keys)
    got = sorted(r["image_id"] for r in out.collect())
    assert got == sorted(want) and len(got) == 40
    plan = _plan(out)
    assert node in plan and not_node not in plan, plan


def test_compact_id_index_preserves_lookups(spark, keyidx_build):
    """Offline compaction rewrites to one row per id; lookups resolve
    identically before and after, and the row count shrinks to the
    distinct-id count."""
    full_before = _full_id_state(spark)
    n_rows_before = spark.read.parquet(f"{CKPT}/id_index").count()
    compact_id_index(spark, f"{CKPT}/id_index", CFG)
    after = spark.read.parquet(f"{CKPT}/id_index")
    assert after.count() == len(full_before) <= n_rows_before
    assert _full_id_state(spark) == full_before
    probe = spark.createDataFrame(
        [(i,) for i in sorted(full_before)[:20]], "image_id string")
    got = {r["image_id"]: (r["cluster_id"], r["is_rep"])
           for r in lookup_id_index(spark, f"{CKPT}/id_index",
                                    probe, CFG).collect()}
    assert got == {i: full_before[i] for i in sorted(full_before)[:20]}


def test_add_path_reads_are_o_new(spark, keyidx_build):
    """pipeline_state's add_lookup_* rows pin the scan-row contract: the
    resolved lookup row counts are O(new + affected), never corpus-
    sized (the round-4 residual this layout exists to kill)."""
    state = spark.read.parquet(os.path.join(CKPT, "pipeline_state"))
    rows = {r["stage"]: r["n"] for r in
            state.groupBy("stage").agg(F.sum("rows_out").alias("n"))
            .collect()}
    n_new = rows["add_exact_groups"]
    for s in ("add_lookup_idclash", "add_lookup_ck", "add_lookup_labels"):
        assert s in rows, sorted(rows)
        assert rows[s] <= n_new + rows.get("add_verified_edges", 0) * 2, \
            (s, rows[s], n_new)


def test_add_after_compaction_matches_rebuild(spark, small_fixture_dir):
    """LSM maintenance contract: compacting id_index between two adds
    must not disturb generation continuity — the next add's delta (at
    gen = counter+1, which compaction never rewinds) still wins
    lookups, and clusters stay rebuild-identical."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    ids = sorted(r["image_id"] for r in images.select("image_id").collect())
    c1, c2 = ids[int(len(ids) * 0.6)], ids[int(len(ids) * 0.8)]
    part1 = images.filter(F.col("image_id") < c1)
    part2 = images.filter((F.col("image_id") >= c1)
                          & (F.col("image_id") < c2))
    part3 = images.filter(F.col("image_id") >= c2)
    ckpt = "/tmp/gsearch_spark_ckpt_compact_add"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, CFG, ckpt).run(part1, resume=False)
    incremental_add(spark, CFG, ckpt, part2, part1.unionByName(part2))
    compact_id_index(spark, f"{ckpt}/id_index", CFG)
    incremental_add(spark, CFG, ckpt, part3, images)
    got = {r["image_id"]: r["cluster_id"] for r in
           spark.read.parquet(f"{ckpt}/clusters")
           .select("image_id", "cluster_id").collect()}
    full = "/tmp/gsearch_spark_ckpt_compact_full"
    shutil.rmtree(full, ignore_errors=True)
    want = {r["image_id"]: r["cluster_id"] for r in
            NearDupPipeline(spark, CFG, full).run(images,
                                                  resume=False).collect()}
    assert got == want


def _id_build(spark, base: str) -> str:
    """A minimal build dir for id_index maintenance: parameters.json
    and an id_index of 40 images at gen 0 plus a gen-1 relabel row for
    every fourth image (so compaction has rows to drop).  Returns the
    id_index path."""
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.keyidx import write_keyed
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    CFG.dump_via(CheckpointFS(spark, base), base)
    rows = ([(f"i{k:03d}", f"i{k % 7:03d}", True, f"i{k:03d}", 0)
             for k in range(40)]
            + [(f"i{k:03d}", f"i{k % 3:03d}", False, None, 1)
               for k in range(0, 40, 4)])
    path = f"{base}/id_index"
    write_keyed(spark.createDataFrame(
        rows, "image_id string, cluster_id string, is_rep boolean, "
        "rep_id string, gen int"), "image_id", "ib", path, CFG)
    return path


def _id_rows(spark, path: str) -> "list[tuple]":
    spark.catalog.refreshByPath(path)
    return sorted((tuple(r) for r in spark.read.schema(
        "image_id string, cluster_id string, is_rep boolean, "
        "rep_id string, gen int, ib int").parquet(path).collect()), key=repr)


def _id_state(spark, path: str) -> dict:
    """Resolved (cluster_id, is_rep, rep_id) per image."""
    spark.catalog.refreshByPath(path)
    return {r["image_id"]: (r["cluster_id"], r["is_rep"], r["rep_id"])
            for r in (spark.read.parquet(path).groupBy("image_id")
                      .agg(F.max_by("cluster_id", "gen").alias("cluster_id"),
                           F.bool_or("is_rep").alias("is_rep"),
                           F.max("rep_id").alias("rep_id"))
                      .collect())}


def test_compaction_crash_windows_recover(spark, monkeypatch,
                                          assert_settled):
    """Compaction commits through the mutation manifest: crashed at its
    one rename (staged id_index -> live), it leaves the manifest, and
    recover_add_commit rolls it forward to exactly the rows of an
    uninterrupted compaction, with no staging dir left.  A second
    crashed compaction heals inside the next one's prologue."""
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import (ADD_MANIFEST,
                                                  recover_add_commit)
    clean = _id_build(spark, "/tmp/gsearch_spark_keyidx_compact_clean")
    compact_id_index(spark, clean, CFG)
    want = _id_rows(spark, clean)
    assert len(want) == 40

    path = _id_build(spark, "/tmp/gsearch_spark_keyidx_crash")
    base = path.rsplit("/", 1)[0]
    truth = _id_state(spark, path)
    real_rename = CheckpointFS.rename

    def exploding(self, src, dst):
        raise RuntimeError("injected crash mid-commit")

    monkeypatch.setattr(CheckpointFS, "rename", exploding)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_id_index(spark, path, CFG)
    monkeypatch.setattr(CheckpointFS, "rename", real_rename)
    assert os.path.exists(f"{base}/{ADD_MANIFEST}")
    assert recover_add_commit(spark, base) is True
    assert _id_rows(spark, path) == want
    assert _id_state(spark, path) == truth
    assert not os.path.exists(f"{base}/_add_staging")
    assert_settled(base)

    # a torn compaction heals implicitly on the next one
    path = _id_build(spark, "/tmp/gsearch_spark_keyidx_crash")
    monkeypatch.setattr(CheckpointFS, "rename", exploding)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_id_index(spark, path, CFG)
    monkeypatch.setattr(CheckpointFS, "rename", real_rename)
    compact_id_index(spark, path, CFG)
    assert _id_rows(spark, path) == want
    assert not os.path.exists(f"{base}/_add_staging")
    assert_settled(base)
    for d in (base, clean.rsplit("/", 1)[0]):
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("window", ["staging_garbage", "between_renames",
                                    "old_only"])
def test_legacy_swap_dirs_heal(spark, window):
    """A build torn by the former two-rename table swap (``<table>__compact``
    staged, live renamed to ``<table>__old``, staged renamed in, old
    deleted) heals in the next mutation's prologue: garbage beside an
    intact live table is dropped, and a missing live table comes back
    from the staged copy, else from the old one."""
    path = _id_build(spark, "/tmp/gsearch_spark_keyidx_legacy")
    base = path.rsplit("/", 1)[0]
    truth = _id_state(spark, path)
    if window == "staging_garbage":
        shutil.copytree(path, f"{path}__compact")
    elif window == "between_renames":
        shutil.copytree(path, f"{path}__compact")
        os.rename(path, f"{path}__old")
    else:
        os.rename(path, f"{path}__old")
    compact_id_index(spark, path, CFG)  # its prologue heals, then compacts
    assert _id_state(spark, path) == truth
    assert len(_id_rows(spark, path)) == 40
    assert not os.path.exists(f"{path}__old")
    assert not os.path.exists(f"{path}__compact")
    shutil.rmtree(base, ignore_errors=True)
