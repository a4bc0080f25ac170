#!/usr/bin/env python
"""Dump formatted physical plans of every pipeline stage -> BENCH/PLANS.md.

Evidence that the plans are the ones we want at 100 TB:
  * signature stage scans read ONLY (image_id, bytes, caption, phash) —
    column pruning keeps the wide table out of every other stage;
  * banding/pair stages are JVM whole-stage-codegen (no Python);
  * candidate emission is ONE shuffle (groupBy bucket keys);
  * verify joins carry bytes only for candidate pairs.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.generator import write_fixture_local
    from gsearch_spark.operators.banding import build_bands
    from gsearch_spark.operators.candidates import emit_bucket_pairs
    from gsearch_spark.operators.signatures import compute_signatures
    from gsearch_spark.operators.suffix import suffix_candidate_pairs
    from gsearch_spark.operators.verify import attach_payloads, verify_pairs
    from gsearch_spark.session import get_spark

    fixture = "/tmp/gsearch_spark_fixtures/plans_200"
    if not os.path.exists(os.path.join(fixture, "images.parquet")):
        write_fixture_local(fixture, n_base=200, seed=42)

    spark = get_spark("plans", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig()
    images = spark.read.parquet(os.path.join(fixture, "images.parquet"))

    sigs = compute_signatures(images, cfg)
    bands = build_bands(sigs, cfg)
    pairs = emit_bucket_pairs(bands)
    sfx = suffix_candidate_pairs(images)
    verified = verify_pairs(attach_payloads(pairs, images, "broadcast"), cfg)

    # request (build-vs-probe): needs a materialized build; reuse a tiny one
    from pyspark.sql import functions as F
    from gsearch_spark.operators.pipeline import NearDupPipeline
    from gsearch_spark.operators.request import request
    import shutil
    ckpt = fixture + "_plans_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    NearDupPipeline(spark, cfg, ckpt).run(images, resume=False)
    probes = images.limit(20).select(
        F.concat(F.lit("q_"), F.col("image_id")).alias("image_id"),
        "bytes", "caption", "phash")
    req = request(spark, ckpt, probes, k=3, max_distance=0.6)

    # add path: the affected-cluster read must show PartitionFilters on
    # pbucket (the partition-level MERGE analog), and the bucketed
    # payload attach must carry no exchange on the payload side
    clusters_stored = spark.read.parquet(os.path.join(ckpt, "clusters"))
    pruned = clusters_stored.filter(F.col("pbucket").isin([1, 2, 3]))
    from gsearch_spark.bucketed import bucketed_images, write_images_bucketed
    write_images_bucketed(spark, images, "plans_payload", buckets=4)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bucketed_attach = attach_payloads(
        pairs, bucketed_images(spark, "plans_payload"), strategy="shuffle")
    bucketed_attach_plan = fmt(bucketed_attach)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

    # key-addressed lookup layouts (r5): the add path's metadata probes
    # must show PartitionFilters on ib/kb AND PushedFilters In(...) on
    # the sorted key column — both pruning levels, no corpus scan
    from gsearch_spark.operators.keyidx import (lookup_ck_index,
                                                lookup_id_index)
    probe_ids = spark.createDataFrame(
        [(r["image_id"],) for r in images.select("image_id")
         .limit(5).collect()], "image_id string")
    id_lookup = lookup_id_index(spark, os.path.join(ckpt, "id_index"),
                                probe_ids, cfg)
    probe_cks = (spark.read.parquet(os.path.join(ckpt, "exact_groups"))
                 .select("ck").limit(5))
    ck_lookup = lookup_ck_index(spark, os.path.join(ckpt, "ck_index"),
                                probe_cks.localCheckpoint(), cfg)

    # IVF probe (r5): the K-row trained centroid table must reach the
    # corpus via a BROADCAST join (assign/probe never shuffle the corpus
    # against the quantizer), and the inverted-list candidate lookup is
    # an equi-join on list_id — co-locatable when both sides are
    # partitioned by list_id at scale
    from gsearch_spark.operators import ivf as ivfmod
    ivf_df = ivfmod.q_ann_ivf_topk(
        spark, "/root/testdata/sf0.001",
        centroids_path=fixture + "_ivf_centroids.parquet")

    # remove path (r5): the split recomputation's edge read must show
    # PartitionFilters on eb AND PushedFilters In(a, …) — edges among
    # the affected clusters' group nodes only, never an edge-table scan
    from gsearch_spark.operators.keyidx import lookup_edges_among
    probe_nodes = probe_ids.select(F.col("image_id").alias("a"))
    edge_lookup = lookup_edges_among(
        spark, os.path.join(ckpt, "edge_index"), probe_nodes, cfg)

    sections = [
        ("signatures (images -> sketches; check ReadSchema is pruned to "
         "image_id/bytes/caption/phash)", sigs),
        ("bands (JVM xxhash64 band keys + broadcast hot-bucket salting; "
         "check WholeStageCodegen + BroadcastHashJoin)", bands),
        ("candidate_pairs (ONE shuffle on bucket keys, array-HOF pair "
         "expansion in codegen)", pairs),
        ("suffix pass (phash-grouped applyInPandas)", sfx),
        ("verify (payload joins carry bytes only for candidates)", verified),
        ("request probe (build side never shuffled: BroadcastHashJoin on "
         "probe bands, no SortMergeJoin)", req),
        ("clusters affected-read (add path; check PartitionFilters on "
         "pbucket — only touched partitions scanned)", pruned),
        ("id_index point lookup (add path id-clash / endpoint-label / "
         "rep-ness probes; check PartitionFilters on ib AND "
         "PushedFilters In(image_id, …) — partition + row-group pruned, "
         "never a corpus scan)", id_lookup),
        ("ck_index point lookup (add path exact-membership probe; check "
         "PartitionFilters on kb AND PushedFilters In(ck, …))",
         ck_lookup),
        ("ann_ivf_topk (IVF-Flat: check the centroid side enters via "
         "BroadcastExchange/BroadcastNestedLoopJoin — a K-row table — "
         "and the cands stage is an equi-join on list_id, never an "
         "all-pairs corpus join)", ivf_df),
        ("edge_index pruned read (remove path split recomputation; "
         "check PartitionFilters on eb AND PushedFilters In(a, …) — "
         "only affected group nodes' buckets scanned)", edge_lookup),
    ]
    out = ["# Physical plans (auto-generated by tools/explain_plans.py)\n"]
    for title, df in sections:
        out.append(f"\n## {title}\n\n```\n{fmt(df)}```\n")
    out.append("\n## bucketed payload attach (broadcast disabled; check "
               "NO Exchange above the payload table scans — only the "
               "pairs/id side shuffles to match the bucketing)\n\n"
               f"```\n{bucketed_attach_plan}```\n")
    spark.sql("DROP TABLE IF EXISTS plans_payload")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
