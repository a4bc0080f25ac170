"""Bucketed payload layout: plan-level proof that the attach path's
payload side joins WITHOUT an exchange when the images table is
bucketed on image_id (the Iceberg-bucketing analog for 10^12-row
deployments), and that the rows are identical to the plain path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gsearch_spark.bucketed import bucketed_images, write_images_bucketed
from gsearch_spark.operators.verify import attach_payloads

TABLE = "images_bucketed_test"


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(
        [("img_00000001", "img_00000002", "t"),
         ("img_00000003", "img_00000010", "t"),
         ("img_00000005", "img_00000011", "t"),
         ("img_00000002", "img_00000007", "t")],
        schema="a string, b string, src string")


@pytest.fixture(scope="module")
def bucketed(spark, small_fixture_dir):
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    write_images_bucketed(spark, images, TABLE, buckets=8)
    yield bucketed_images(spark, TABLE)
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_bucketed_attach_rows_identical(spark, small_fixture_dir, pairs,
                                        bucketed):
    plain = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    want = sorted((r["a"], r["b"], bytes(r["bytes_a"])[:12], r["caption_b"])
                  for r in attach_payloads(pairs, plain,
                                           strategy="shuffle").collect())
    got = sorted((r["a"], r["b"], bytes(r["bytes_a"])[:12], r["caption_b"])
                 for r in attach_payloads(pairs, bucketed,
                                          strategy="shuffle").collect())
    assert got == want and len(got) == 4


def test_bucketed_attach_skips_payload_exchanges(spark, small_fixture_dir,
                                                 pairs, bucketed):
    """The payload table must never shuffle: with broadcast disabled
    (forcing every join to pick a partitioned strategy), the bucketed
    attach plan needs exchanges only for the pairs/id side, strictly
    fewer than the plain-parquet plan which exchanges the payload table
    for the semi join and both payload fan-outs."""
    plain = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_plain = _n_exchanges(
            attach_payloads(pairs, plain, strategy="shuffle"))
        n_bucketed = _n_exchanges(
            attach_payloads(pairs, bucketed, strategy="shuffle"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert n_bucketed < n_plain, (n_bucketed, n_plain)


def test_verified_edges_pair_count_hint_equivalent(spark, small_fixture_dir,
                                                   pairs):
    """The attach rule's bound (2 x n_pairs_hint distinct ids against
    the broadcast budget) must be invisible in the rows: a hint under
    the budget (broadcast attach) and one past it (shuffle attach)
    give the same verified edges."""
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.operators.verify import (BROADCAST_MAX_IDS,
                                                verified_edges)

    cfg = PipelineConfig()
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")

    def rows(hint):
        return sorted(
            (r["a"], r["b"], r["src"], round(r["psnr"], 6), r["caption_eq"])
            for r in verified_edges(pairs, images, cfg,
                                    n_pairs_hint=hint).collect())

    want = rows(4)                                 # broadcast attach
    assert rows(BROADCAST_MAX_IDS) == want         # over-budget hint
