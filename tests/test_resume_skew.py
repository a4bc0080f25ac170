"""Resume-from-checkpoint semantics + hot-band skew handling."""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.generator import KIND_SKEW, make_plan, write_fixture_local
from gsearch_spark.operators.banding import build_bands
from gsearch_spark.operators.candidates import bucket_stats, emit_bucket_pairs
from gsearch_spark.operators.pipeline import NearDupPipeline
from gsearch_spark.operators.signatures import compute_signatures

CFG = PipelineConfig()
CKPT = "/tmp/gsearch_spark_ckpt_resume"


def _assign(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def test_resume_after_kill_is_byte_identical(spark, small_fixture_dir):
    """Kill after any stage boundary; resume must produce identical
    clusters (north_rule resumability; reference add-mode reload,
    gsearch src/dna/dnasketch.rs:106-134)."""
    shutil.rmtree(CKPT, ignore_errors=True)
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    full = _assign(NearDupPipeline(spark, CFG, CKPT).run(images))

    # simulate a kill after the bands stage: drop every later checkpoint
    for stage in ("candidate_pairs", "verified_edges", "clusters"):
        shutil.rmtree(os.path.join(CKPT, stage), ignore_errors=True)
    pipe2 = NearDupPipeline(spark, CFG, CKPT)
    resumed = _assign(pipe2.run(images, resume=True))
    assert resumed == full
    skipped = {r.stage for r in pipe2.records if r.skipped}
    assert {"signatures", "bands"} <= skipped


def test_resume_refuses_config_mismatch(spark, small_fixture_dir):
    """parameters.json discipline: different config hash must refuse
    (gsearch src/bin/gsearch.rs:714-742)."""
    images = spark.read.parquet(f"{small_fixture_dir}/images.parquet")
    other = dataclasses.replace(CFG, caption_kgram=7)
    with pytest.raises(ValueError, match="different pipeline config"):
        NearDupPipeline(spark, other, CKPT).run(images, resume=True)


def _stored_params(tmp_path, **extra) -> str:
    """A checkpoint dir whose parameters.json is today's default plus
    ``extra`` keys."""
    d = json.loads(CFG.to_json())
    d.update(extra)
    (tmp_path / "parameters.json").write_text(json.dumps(d))
    return str(tmp_path)


def test_retired_config_keys_keep_build_identity(spark, tmp_path):
    """A parameters.json written while the retired execution budgets
    were fields still names them — here with one retuned: loading drops
    exactly those keys, so the stored build hashes like today's default
    and the add/remove prologue's config check accepts it."""
    from gsearch_spark.config import RETIRED_FIELDS
    from gsearch_spark.fs import CheckpointFS
    old = dict(zip(RETIRED_FIELDS, (2000, 5_000_000, 1)))
    ckpt = _stored_params(tmp_path, **old)
    fs = CheckpointFS(spark, ckpt)
    stored = PipelineConfig.reload_via(fs, ckpt)
    assert stored.config_hash() == CFG.config_hash()
    CFG.assert_matches_via(fs, ckpt)


def test_execution_fields_keep_build_identity(spark, tmp_path):
    """The execution fields only pick between plans with identical
    outputs: a parameters.json with each retuned still matches today's
    default and reloads with the stored values (a ``--bucketed`` build
    keeps its ``verify_attach="shuffle"``), while the fields that decide
    the stored bands' salt column still refuse."""
    from gsearch_spark.config import EXECUTION_FIELDS
    from gsearch_spark.fs import CheckpointFS
    tuned = {"shuffle_partitions": 7, "verify_attach": "shuffle",
             "cc_reliable_checkpoints": True, "add_cc_local_max_edges": 0}
    assert set(tuned) == set(EXECUTION_FIELDS)
    ckpt = _stored_params(tmp_path, **tuned)
    fs = CheckpointFS(spark, ckpt)
    stored = PipelineConfig.reload_via(fs, ckpt)
    assert {k: getattr(stored, k) for k in tuned} == tuned
    CFG.assert_matches_via(fs, ckpt)
    for field in ("max_hot_buckets", "hot_stats_sample_mod"):
        ckpt = _stored_params(tmp_path, **{field: 2})
        with pytest.raises(ValueError, match="different pipeline config"):
            CFG.assert_matches_via(fs, ckpt)


def test_unknown_config_key_still_refuses(spark, tmp_path):
    """Only the retired keys are forgiven: any other key the dataclass
    does not know still fails the load."""
    from gsearch_spark.fs import CheckpointFS
    ckpt = _stored_params(tmp_path, pair_cap_per_band=2000)
    with pytest.raises(TypeError, match="pair_cap_per_band"):
        CFG.assert_matches_via(CheckpointFS(spark, ckpt), ckpt)


def _bomb_ids(n_base: int, seed: int, skew_fraction: float) -> "list[str]":
    plan = make_plan(n_base, seed=seed, skew_fraction=skew_fraction)
    return [f"img_{i:08d}" for i in range(plan.n_total)
            if plan.kind[i] == KIND_SKEW]


@pytest.fixture(scope="module")
def skew_fixture_dir():
    """Bench-style adversarial fixture: 20% identical black images
    (stronger than FIXTURES.md's 10% bench profile, to force salting)."""
    out = "/tmp/gsearch_spark_fixtures/skew_1000"
    if not os.path.exists(os.path.join(out, "images.parquet")):
        shutil.rmtree(out, ignore_errors=True)
        write_fixture_local(out, n_base=1000, seed=43, skew_fraction=0.20)
    return out


def test_hot_buckets_are_salted(spark, skew_fixture_dir):
    """Skew bombs (identical signature) must be split into sub-buckets and
    pair volume stays near-linear in the group size, not quadratic."""
    images = spark.read.parquet(f"{skew_fixture_dir}/images.parquet")
    sigs = compute_signatures(images, CFG)
    bands = build_bands(sigs, CFG)
    stats = bucket_stats(bands).collect()[0]
    # 200 identical skew bombs; salting must split their buckets
    n_bomb = 200
    assert stats["max_bucket"] < n_bomb
    assert stats["n_star_policy"] > 0  # star policy active, and logged
    pairs = emit_bucket_pairs(bands).cache()
    bomb_ids = _bomb_ids(1000, 43, 0.20)
    assert len(bomb_ids) == n_bomb
    skew_pairs = pairs.filter(F.col("a").isin(bomb_ids)
                              & F.col("b").isin(bomb_ids)).count()
    clique = n_bomb * (n_bomb - 1) / 2
    # star policy: O(m * bands), far below the m^2/2 clique
    assert skew_pairs < clique / 2, (skew_pairs, clique)
    assert skew_pairs >= n_bomb - 1  # still spanning-connected material
    pairs.unpersist()


def test_skew_cluster_stays_connected(spark, skew_fixture_dir):
    """Salting must not split the skew-bomb component (cross-band salt
    diversity keeps it spanning-connected)."""
    images = spark.read.parquet(f"{skew_fixture_dir}/images.parquet")
    ckpt = "/tmp/gsearch_spark_ckpt_skew"
    shutil.rmtree(ckpt, ignore_errors=True)
    clusters = NearDupPipeline(spark, CFG, ckpt).run(images, resume=False)
    skew_ids = _bomb_ids(1000, 43, 0.20)
    assign = _assign(clusters)
    skew_clusters = {assign[i] for i in skew_ids}
    assert len(skew_clusters) == 1, f"skew split into {len(skew_clusters)}"


@pytest.mark.parametrize("n_hot", [0, 2, 3],
                         ids=["no_hot_bucket", "cap_not_hit", "cap_hit"])
def test_salt_hot_buckets_cap_sides(spark, caplog, n_hot):
    """``max_hot_buckets`` at a tiny cap of 2, on each side: buckets
    above ``hot_threshold`` are salted while they fit the cap; past it
    only the hottest are, the tail stays unsalted with a warning logged,
    and the star policy still bounds the tail's pairs at 2m - 3."""
    import logging
    from gsearch_spark.operators import banding
    from gsearch_spark.operators.candidates import ALL_PAIRS_MAX
    cap = 2
    # hot bucket h holds 40 + h rows, so the hottest has the highest h;
    # three cold buckets of 3 rows stay under the threshold
    rows = [(1, 100 + h, f"h{h}_{i:03d}") for h in range(n_hot)
            for i in range(40 + h)]
    rows += [(1, 200 + c, f"c{c}_{i}") for c in range(3) for i in range(3)]
    bands = spark.createDataFrame(
        rows, "band_id int, band_hash bigint, image_id string")
    with caplog.at_level(logging.WARNING, logger=banding.__name__):
        out = banding.salt_hot_buckets(bands, hot_threshold=8, max_salts=4,
                                       max_hot_buckets=cap)
    salts: "dict[int, set]" = {}
    for r in out.collect():
        salts.setdefault(r["band_hash"], set()).add(r["salt"])
    assert {h for h, s in salts.items() if s != {0}} == \
        {100 + h for h in range(max(0, n_hot - cap), n_hot)}
    assert ("more than 2 hot buckets" in caplog.text) == (n_hot > cap)
    if n_hot > cap:
        tail = out.filter(F.col("band_hash") == 100)
        m = tail.count()
        assert m > ALL_PAIRS_MAX
        assert emit_bucket_pairs(tail).count() == 2 * m - 3
