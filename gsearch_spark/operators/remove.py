"""Takedown / GDPR-delete path: remove images from a stored build.

The reference's index is insert-only (``add`` appends to the persisted
HNSW, src/bin/gsearch.rs:488-505; there is no delete), but a web-scale
training-data pipeline cannot be: copyright takedowns and
right-to-be-forgotten requests arrive daily and must leave the CLUSTER
ASSIGNMENTS — this engine's product — exactly as if the removed images
had never been ingested.  This module adds that operation Spark-first,
as the mirror image of the append path:

* **merge-on-read, not rewrite** (the Iceberg delete-file analog):
  corpus-sized stages (signatures, bands, exact_groups, ck_index, the
  verified_edges checkpoint) are NOT rewritten per remove.  Three small
  sidecars carry the delete state instead —

  ``tombstones``  (image_id, gen), hive-partitioned on
      ``tb = xxhash64(image_id) % key_buckets``: every removed image.
  ``dead_groups``  (rep_id, gen), flat: founding group nodes whose
      exact-content group lost its LAST member; the add path's
      ck-membership probe and request's candidate probe veto these so
      fully-removed content reads as fresh / gone.
  ``rep_remap``  (old_rep, new_rep, gen), flat, latest ``gen`` wins:
      founding reps that are themselves tombstoned while their group
      survives, mapped to the group's minimum surviving member.  The
      stored signatures/bands stay keyed by the founding node (the
      surviving member is byte-and-caption identical, so they remain
      VALID); consumers translate at the edges — request remaps its
      answers, the add path remaps probe pairs — and
      :func:`purge_removed`-style compaction re-keys physically.

* **only clusters are eagerly correct**: the affected clusters are
  recomputed and their pbucket partitions rewritten under partition
  pruning (same Iceberg partition-MERGE analog as the append path).
  Removing a non-rep member can at most rename a cluster label (min
  surviving member); removing a founding rep whose group survives
  changes NOTHING about connectivity (survivors are content-identical,
  every verified edge transfers); only a group's LAST member dying can
  SPLIT a cluster — recomputed from the ``edge_index`` sidecar under
  partition pruning, O(affected), never a corpus scan.

* **the append path's mutation skeleton** (operators/pipeline.py):
  the same single-writer lock, the same ``mutation_prologue`` (config
  check, torn-commit roll-forward, sidecar checks, staging wipe, next
  id_index generation), the same touched-bucket
  ``stage_clusters_rewrite``, and the same manifest commit — every
  delta is staged, ``write_manifest`` marks the commit point and
  ``finish_commit`` applies it, the very function ``recover_add_commit``
  runs to complete a torn remove, add or purge.

Parity contract (pinned by tests/test_remove.py): after any sequence of
builds, adds and removes, the clusters table equals a from-scratch
rebuild over the surviving images — including label renames and splits.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.keyidx import (key_bucket, lookup_edges_among,
                                            lookup_id_index, stage_id_append)
from gsearch_spark.operators.pipeline import (NearDupPipeline, _writer_locked,
                                              cc_roots, chains,
                                              checkpoint_rows,
                                              cluster_pbucket,
                                              finish_commit,
                                              mutation_prologue,
                                              read_layout,
                                              relabel_min_member,
                                              stage_clusters_rewrite,
                                              write_manifest)
from gsearch_spark.session import local_frame

TOMBSTONES = "tombstones"
DEAD_GROUPS = "dead_groups"
REP_REMAP = "rep_remap"

TOMBSTONE_SCHEMA = "image_id string, gen int, tb int"
DEAD_SCHEMA = "rep_id string, gen int"
REMAP_SCHEMA = "old_rep string, new_rep string, gen int"


# ------------------------------------------------------- sidecar readers

def _read_or_empty(spark: SparkSession, checkpoint_dir: str, name: str,
                   schema: str) -> DataFrame:
    """Explicit-schema read; a build with no removes yet has no sidecar
    — read as an empty local relation instead of failing (and instead
    of inferring, which an all-empty partitioned table cannot support).
    Kept a LocalRelation on purpose: the optimizer's
    PropagateEmptyRelation folds every join it feeds out of the plan,
    which a checkpointed empty frame (a LogicalRDD) would hide."""
    path = f"{checkpoint_dir}/{name}"
    from gsearch_spark.fs import CheckpointFS
    if not CheckpointFS(spark, path).exists(path):
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(path)


def read_tombstones(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return _read_or_empty(spark, checkpoint_dir, TOMBSTONES,
                          TOMBSTONE_SCHEMA)


def read_dead_groups(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return _read_or_empty(spark, checkpoint_dir, DEAD_GROUPS, DEAD_SCHEMA)


def read_rep_remap(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """(old_rep, new_rep): the RESOLVED remap — latest generation wins
    per founding rep (a promoted survivor removed by a later batch gets
    a fresh row at a higher gen)."""
    raw = _read_or_empty(spark, checkpoint_dir, REP_REMAP, REMAP_SCHEMA)
    return (raw.groupBy("old_rep")
            .agg(F.max_by("new_rep", "gen").alias("new_rep")))


def read_removal_state(spark: SparkSession,
                       checkpoint_dir: str) -> "tuple[DataFrame, DataFrame]":
    """``(dead, remap)``: the dead founding group nodes (``rep_id``) and
    the resolved ``rep_remap`` (``old_rep``, ``new_rep``) — what every
    reader of the stored rep-keyed tables applies, unconditionally, via
    :func:`drop_dead`, :func:`remap_col` and :func:`pair_fix`.  On a
    build that never saw a remove both are empty local relations and
    the optimizer folds those joins away, so its plans are the
    zero-removal ones with no gate in the caller."""
    return (read_dead_groups(spark, checkpoint_dir).select("rep_id"),
            read_rep_remap(spark, checkpoint_dir))


def has_removals(spark: SparkSession, checkpoint_dir: str) -> bool:
    """Whether any remove has run since the last purge — purge's
    nothing-to-purge check.  Readers never branch on it; they apply
    :func:`read_removal_state`."""
    from gsearch_spark.fs import CheckpointFS
    path = f"{checkpoint_dir}/{TOMBSTONES}"
    return CheckpointFS(spark, path).exists(path)


# ------------------------------------------------ key translation helpers
# Stored signatures/bands/pairs stay keyed by FOUNDING group nodes until
# purge.  These three are the one place that translates such keys: the
# add (ck veto, stored-pair probe, matched-rep labels), the request
# (dead targets, answer ids) and purge's physical rewrite all call them.

def drop_dead(df: DataFrame, col: str, dead: DataFrame) -> DataFrame:
    """Rows of ``df`` whose ``col`` is not a dead group node."""
    return df.join(F.broadcast(dead.withColumnRenamed("rep_id", col)),
                   col, "left_anti")


def remap_col(df: DataFrame, col: str, remap: DataFrame) -> DataFrame:
    """``df`` with ``col`` re-pointed from a remapped founding rep to its
    promoted surviving member (other values and the column order kept)."""
    rr = remap.select(F.col("old_rep").alias(col),
                      F.col("new_rep").alias("__nr"))
    return (df.join(F.broadcast(rr), col, "left")
            .select(*[F.coalesce("__nr", F.col(c)).alias(c) if c == col
                      else c for c in df.columns]))


def pair_fix(df: DataFrame, dead: DataFrame, remap: DataFrame,
             extra: "list[str]") -> DataFrame:
    """Canonical ``(a, b, *extra)`` pairs with either endpoint on a dead
    group dropped and both endpoints re-pointed — the stored endpoint
    can sit in EITHER column (pairs are least/greatest-canonical), so
    both are treated, self-pairs dropped and the pair re-canonicalized.
    Duplicates it may create are left to the consumer's dedup."""
    d = remap_col(remap_col(drop_dead(drop_dead(df, "a", dead), "b", dead),
                            "a", remap), "b", remap)
    return (d.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"), *extra))


# --------------------------------------------------------------- removal

@_writer_locked
def remove_images(spark: SparkSession, cfg: PipelineConfig,
                  checkpoint_dir: str, remove_ids: DataFrame) -> DataFrame:
    """Remove the given image_ids from the build (single-column
    DataFrame ``image_id``).  Refuses unknown and already-removed ids.
    Returns the post-remove clusters table.  Runs under the build's
    single-writer mutation lock and shares the append path's skeleton
    (operators/pipeline.py): ``mutation_prologue``, the touched-bucket
    ``stage_clusters_rewrite`` and the manifest commit
    (``write_manifest`` + ``finish_commit``, crash-roll-forward-
    recoverable).  Its phases run inside one ``chains()`` scope: resolve
    and refuse (:func:`_rm_resolve`) -> affected members
    (:func:`_rm_members`) -> connectivity (:func:`_rm_connectivity`) ->
    stage and commit; the tombstones and the dead-group / rep-remap
    sidecars stage on side threads as soon as their inputs are cut."""
    pipe = NearDupPipeline(spark, cfg, checkpoint_dir)
    staging, new_gen = mutation_prologue(pipe, ("id_index", "edge_index"))
    id_idx = read_layout(spark, checkpoint_dir, "id_index")
    clusters = read_layout(spark, checkpoint_dir, "clusters")
    rm, n_rm = checkpoint_rows(remove_ids.select("image_id").distinct())
    if n_rm == 0:
        return clusters.select("image_id", "cluster_id")
    with chains() as spawn:
        info = _rm_resolve(pipe, spawn, rm, n_rm, id_idx)
        spawn(lambda: _stage_tombstones(pipe, staging, rm, new_gen))
        aff, aff_buckets, mem = _rm_members(pipe, info, clusters, id_idx)
        edges_future = spawn(lambda: _edges_among(pipe, mem))
        surv = mem.join(rm, "image_id", "left_anti").localCheckpoint()
        # cut once: surv_groups serves the sidecar chain's anti-join AND
        # both broadcast build sides of the CC edge restriction —
        # lazy, the distinct would recompute per consumer (3x)
        surv_groups = surv.select("rep_id").distinct().localCheckpoint()
        spawn(lambda: _stage_sidecars(staging, rm, mem, surv, surv_groups,
                                      new_gen))
        delta = _rm_connectivity(pipe, edges_future, surv, surv_groups)
        # id_index delta: survivors at their new label; removed ids at a
        # NULL label (the dead marker — tombstone-ness lives in the
        # tombstones table, label resolution of a removed id is null)
        null_s = F.lit(None).cast("string")
        spawn(lambda: stage_id_append(
            delta.select("image_id", "cluster_id",
                         F.lit(False).alias("is_rep"),
                         null_s.alias("rep_id"))
            .unionByName(rm.select("image_id", null_s.alias("cluster_id"),
                                   F.lit(False).alias("is_rep"),
                                   null_s.alias("rep_id"))),
            new_gen, staging, cfg))
        swap = stage_clusters_rewrite(pipe, staging, clusters, aff,
                                      aff_buckets, delta, "rm")
    finish_commit(spark, pipe.fs, checkpoint_dir, write_manifest(
        pipe, staging, new_gen, swap, [DEAD_GROUPS, REP_REMAP],
        ["id_index", TOMBSTONES]), pipe._flush_state)
    return (read_layout(spark, checkpoint_dir, "clusters")
            .select("image_id", "cluster_id"))


def _rm_resolve(pipe: NearDupPipeline, spawn, rm: DataFrame, n_rm: int,
                id_idx: DataFrame) -> DataFrame:
    """Resolve and refuse: every id must exist (``rm_lookup_ids``, a
    pruned id_index point lookup) and not be removed already; the two
    refusal probes are independent small jobs and run concurrently
    (guide §2.6).  Returns the ids' id_index rows."""
    spark, cfg = pipe.spark, pipe.cfg
    lookup = spawn(lambda: pipe._stage("rm_lookup_ids", lambda: (
        lookup_id_index(spark, pipe._path("id_index"), rm, cfg,
                        idx_df=id_idx))))
    already = rm.join(read_tombstones(spark, pipe.dir), "image_id",
                      "left_semi")
    already_ids = None if already.isEmpty() else \
        [r[0] for r in already.limit(5).collect()]
    info, n_info = lookup.result()
    if n_info != n_rm:
        missing = rm.join(info.select("image_id"), "image_id", "left_anti")
        raise ValueError(
            "remove_images: unknown image_ids (not in this build), e.g. "
            f"{[r[0] for r in missing.limit(5).collect()]}")
    if already_ids is not None:
        raise ValueError(
            f"remove_images: ids already removed, e.g. {already_ids}")
    return info


def _stage_tombstones(pipe: NearDupPipeline, staging: str, rm: DataFrame,
                      gen: int) -> None:
    """Stage the tombstones: needs only the checkpointed ids and the next
    generation, so it overlaps the whole members/CC/delta chain."""
    (rm.withColumn("gen", F.lit(gen))
     .withColumn("tb", key_bucket("image_id", pipe.cfg.key_buckets))
     .repartition(1)
     .write.mode("overwrite").partitionBy("tb")
     .parquet(f"{staging}/{TOMBSTONES}"))


def _rm_members(pipe: NearDupPipeline, info: DataFrame,
                clusters: DataFrame, id_idx: DataFrame):
    """Affected members (``rm_members``): every member of a cluster that
    holds a removed id, read under pbucket pruning, with its founding
    group node from a pruned id_index point lookup — O(affected
    members), never a scan of exact_groups.  Returns the affected
    labels, their buckets and the members."""
    cfg = pipe.cfg
    with pipe._span("rm_members", after="rm_lookup_ids") as rows:
        aff = info.select("cluster_id").distinct().localCheckpoint()
        aff_buckets = sorted(r[0] for r in aff.select(cluster_pbucket(cfg))
                             .distinct().collect())
        members = (clusters.filter(F.col("pbucket").isin(aff_buckets))
                   .join(F.broadcast(aff), "cluster_id")
                   .select("image_id", "cluster_id").localCheckpoint())
        minfo = (lookup_id_index(pipe.spark, pipe._path("id_index"),
                                 members.select("image_id"), cfg,
                                 idx_df=id_idx)
                 .select("image_id", "rep_id"))
        mem, n_mem = checkpoint_rows(members.join(minfo, "image_id"))
        rows(n_mem)
    return aff, aff_buckets, mem


def _edges_among(pipe: NearDupPipeline, mem: DataFrame) -> DataFrame:
    """PREFETCH the dedup-graph edge read (guide §2.6): the surviving
    nodes are a subset of ALL affected founding nodes, known the moment
    the members land — so the pruned edge_index lookup runs on a side
    thread over the affected-node superset, overlapping the survivor
    cut and the sidecar chain; the connectivity phase restricts it to
    edges with BOTH endpoints surviving, which is exactly a lookup of
    the surviving nodes."""
    nodes = mem.select(F.col("rep_id").alias("a")).distinct() \
        .localCheckpoint()
    return lookup_edges_among(pipe.spark, pipe._path("edge_index"), nodes,
                              pipe.cfg).localCheckpoint()


def _stage_sidecars(staging: str, rm: DataFrame, mem: DataFrame,
                    surv: DataFrame, surv_groups: DataFrame,
                    gen: int) -> None:
    """Stage the dead-group and rep-remap deltas.  Consumes only the
    checkpointed members and survivors — nothing from the CC recompute
    — so the whole chain, writes included, runs on a side thread under
    the connectivity phase.  The remap refresh points every surviving
    group whose FOUNDING rep is not among the survivors at its minimum
    surviving member (also re-pointing groups remapped by earlier
    batches whose target just died — the recompute is total over the
    affected slice)."""
    gone_groups = (mem.join(rm, "image_id", "left_semi")
                   .select("rep_id").distinct()
                   .join(surv_groups, "rep_id", "left_anti")
                   .localCheckpoint())
    founders_alive = (surv.filter(F.col("image_id") == F.col("rep_id"))
                      .select("rep_id"))
    remap_delta = (surv.groupBy("rep_id")
                   .agg(F.min("image_id").alias("new_rep"))
                   .join(founders_alive, "rep_id", "left_anti")
                   .select(F.col("rep_id").alias("old_rep"), "new_rep"))
    for name, df in ((DEAD_GROUPS, gone_groups), (REP_REMAP, remap_delta)):
        if not df.isEmpty():
            (df.withColumn("gen", F.lit(gen)).repartition(1)
             .write.mode("overwrite").parquet(f"{staging}/{name}"))


def _rm_connectivity(pipe: NearDupPipeline, edges_future,
                     surv: DataFrame, surv_groups: DataFrame) -> DataFrame:
    """Connectivity: CC over the surviving group nodes (a dying group's
    edges vanish — only then can a cluster split).  The prefetched edge
    read is restricted to both-endpoints-surviving (``rm_cc_edges``),
    then every survivor is relabelled and min-member-normalized
    (``rm_clusters``).  Returns that clusters delta."""
    def edges() -> DataFrame:
        return (edges_future.result()
                .join(F.broadcast(surv_groups.withColumnRenamed("rep_id",
                                                                "a")),
                      "a", "left_semi")
                .join(F.broadcast(surv_groups.withColumnRenamed("rep_id",
                                                                "b")),
                      "b", "left_semi"))

    edges, n_edges = pipe._stage("rm_cc_edges", edges, after="rm_members")
    comp = cc_roots(edges, n_edges, pipe.cfg)
    return pipe._stage("rm_clusters", lambda: relabel_min_member(
        surv.select("image_id", "rep_id"), "rep_id", comp),
        after="rm_cc_edges")[0]


# ----------------------------------------------------------------- purge

@_writer_locked
def purge_removed(spark: SparkSession, cfg: PipelineConfig,
                  checkpoint_dir: str) -> dict:
    """Physically apply the merge-on-read removal state — the Iceberg
    rewrite-data-files half of the delete lifecycle.  Rewrites every
    corpus-sized stage dropping dead-group rows and re-keying remapped
    founding reps to their promoted surviving members, rebuilds id_index
    from the purged clusters+groups (restoring is_rep for promoted
    reps), then drops the three sidecars.  After a purge the build is
    byte-level indistinguishable in BEHAVIOR from one that never held
    the removed rows: the sidecars are gone, so readers see them as
    empty relations again and their sidecar joins fold out of the plan.

    A mutation like any other (operators/pipeline.py skeleton): under
    the writer lock and ``mutation_prologue`` every rewritten table is
    staged, and one manifest (``write_manifest`` + ``finish_commit``)
    replaces all eight, then deletes the sidecars — all-or-nothing at
    its manifest, and a crash after it rolls forward.  Only while the
    commit's renames run can a reader without the lock see a mix of
    rewritten and pending tables, or a table missing; the sidecar
    vetoes stay in force until every rename has landed, so no removed
    id resurfaces.
    """
    from gsearch_spark.operators.keyidx import write_keyed
    pipe = NearDupPipeline(spark, cfg, checkpoint_dir)
    staging, gen = mutation_prologue(pipe, ())
    if not has_removals(spark, checkpoint_dir):
        return {"tombstones_purged": 0, "dead_groups_purged": 0,
                "reps_rekeyed": 0}
    T, n_t = checkpoint_rows(
        read_tombstones(spark, checkpoint_dir).select("image_id"))
    dead, remap = read_removal_state(spark, checkpoint_dir)
    D, n_d = checkpoint_rows(dead)
    R, n_r = checkpoint_rows(remap)

    def read(name: str) -> DataFrame:
        return read_layout(spark, checkpoint_dir, name)

    # member-level table: drop tombstoned rows, re-key group reps
    eg, _ = pipe._stage("purge_exact_groups", remap_col(
        read("exact_groups").join(F.broadcast(T), "image_id", "left_anti"),
        "rep_id", R), staging, "exact_groups")
    # rep-keyed tables: dead groups vanish, remapped reps re-key
    # (the promoted member is byte-and-caption identical, so the
    # signature/band/sketch VALUES are already its own)
    ve = read("verified_edges")
    flat = {name: remap_col(drop_dead(read(name), "image_id", D),
                            "image_id", R)
            for name in ("signatures", "bands")}
    flat["candidate_pairs"] = pair_fix(read("candidate_pairs"), D, R,
                                       ["src"])
    flat["verified_edges"] = pair_fix(ve, D, R, ve.columns[2:])
    # id_index: rebuild one gen-0 row per surviving image from the
    # clusters and the staged purged groups (restores is_rep on promoted
    # reps; the generation counter stays, so future mutations' deltas
    # still win lookups)
    flags = eg.select("image_id", (F.col("image_id") == F.col("rep_id"))
                      .alias("is_rep"), "rep_id")
    # key-addressed layouts: table -> (frame, key_col, part_col)
    keyed = {
        "edge_index": (pair_fix(read("edge_index").select("a", "b"), D, R,
                                []), "a", "eb"),
        "ck_index": (remap_col(drop_dead(read("ck_index"), "rep_id", D),
                               "rep_id", R).select("ck", "rep_id"),
                     "ck", "kb"),
        "id_index": (read("clusters").select("image_id", "cluster_id")
                     .join(flags, "image_id").withColumn("gen", F.lit(0)),
                     "image_id", "ib")}
    for name, df in flat.items():
        pipe._stage(f"purge_{name}", df, staging, name, read=False)
    for name, (df, key, part) in keyed.items():
        pipe._stage(f"purge_{name}", lambda p, tap, df=df, k=key, c=part:
                    write_keyed(df, k, c, p, cfg, tap), staging, name,
                    read=False)
    # the sidecars have no replacement, so the commit deletes them after
    # every table rename: until then readers stay correct under
    # merge-on-read; after, the sidecars read as empty and fold away
    swap = dict.fromkeys(["exact_groups", *flat, *keyed], True)
    swap.update(dict.fromkeys((TOMBSTONES, DEAD_GROUPS, REP_REMAP), False))
    finish_commit(spark, pipe.fs, checkpoint_dir,
                  write_manifest(pipe, staging, gen - 1, swap, [], []))
    return {"tombstones_purged": n_t, "dead_groups_purged": n_d,
            "reps_rekeyed": n_r}
