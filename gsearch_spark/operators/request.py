"""Build-vs-probe search: query a stored index WITHOUT rebuilding it.

The analog of the reference's ``request`` subcommand — its single most
used entry point (gsearch ``src/dna/dnarequest.rs:64-388``, bulk search
at ``:321-353``; CLI wiring ``src/bin/gsearch.rs:328-359``): sketch NEW
query items with the STORED config (parameters.json reload + hash
assert, ``src/bin/gsearch.rs:714-742``), probe the persisted index, and
return per-query top-k answers under a distance threshold
(``src/dna/dnarequest.rs:83``).

Execution shape (100 TB-minded):

* The probe side (queries) is orders of magnitude smaller than the
  index, so its exploded band table is **broadcast** into a hash join
  against the stored ``bands`` checkpoint — the build side is never
  shuffled, mirroring the reference's memory-mapped HNSW probe.  For
  probe sets too large to broadcast, ``broadcast_probe=False`` degrades
  to a shuffle hash join on (band_id, band_hash).
* Answer distances are computed from **stored signatures only**
  (zip_with slot agreement + phash Hamming, both whole-stage codegen) —
  no payload re-read, exactly like the reference whose request answers
  are sketch distances, not re-alignments.
* Per-query ranking is one shuffle on query_id (window top-k).  Junk
  candidates from hot buckets die on the JVM phash prefilter before
  the signatures join, the same two-phase shape as the verify stage.

Merit equivalence (gsearch ``src/matcher.rs:144-277``): the reference's
matcher ranks request answers by a log-space PRODUCT of per-part
distances because one genome arrives as many sequence parts.  Our items
are single-part (one image per row), so the merit product degenerates
to the single sketch distance — the window top-k below IS the
merit-ranked answer list.  The generic multi-part log-space product is
implemented (and DuckDB-oracled) as the ``merit_product`` query in
``operators/relational.py`` for tables that do have parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.operators.banding import explode_all_bands
from gsearch_spark.operators.signatures import compute_signatures

ANSWERS_SCHEMA = ("query_id string, target_id string, j_est double, "
                  "phash_ham int, caption_eq boolean, distance double, "
                  "rank int, ani double, ani_m2 double")


def probe_candidates(query_bands: DataFrame, stored_bands: DataFrame,
                     broadcast_probe: bool = True,
                     max_bucket_probe: "int | None" = None) -> DataFrame:
    """(query_id, target_id) candidates: probe bands ⋈ stored bands.

    The stored table carries one row per (band_id, image_id) — salt is a
    function of (image_id, band_id) — so the equi-join yields at most one
    row per (query, target, band); distinct collapses multi-band hits.

    Viral-bucket guard: the stored-side salt bounds the BUILD self-join,
    but a probe matches a bucket across all its salts, so a query
    landing in a viral bucket (10^6 stored copies of one meme) joins
    against every member.  With ``max_bucket_probe`` set, touched
    buckets (semi join on the probe keys) are first capped to that many
    members in xxhash64 order — the same bounded-heads policy as the
    append path's ``probe_pairs_vs_stored`` — making per-probe cost
    O(bands x cap) instead of O(bucket size), at the price of
    approximate top-k inside buckets larger than the cap (any cap >= k
    keeps a distance-0 true duplicate reachable in expectation across
    ~27 band families; recall-neutrality on the fixture is pinned in
    tests/test_request.py).  This is the PRODUCTION DEFAULT
    (``PipelineConfig.max_bucket_probe`` = 1024, applied by
    :func:`request`); pass None here for exact per-bucket ranking.
    """
    qb = query_bands.select(F.col("image_id").alias("query_id"),
                            "band_id", "band_hash")
    if broadcast_probe:
        qb = F.broadcast(qb)
    bb = stored_bands.select("band_id", "band_hash",
                             F.col("image_id").alias("target_id"))
    if max_bucket_probe is not None:
        keys = query_bands.select("band_id", "band_hash").distinct()
        if broadcast_probe:
            keys = F.broadcast(keys)
        wk = (Window.partitionBy("band_id", "band_hash")
              .orderBy(F.xxhash64("target_id"), "target_id"))
        bb = (bb.join(keys, ["band_id", "band_hash"], "left_semi")
              .withColumn("rn", F.row_number().over(wk))
              .filter(F.col("rn") <= max_bucket_probe)
              .drop("rn"))
    return (bb.join(qb, ["band_id", "band_hash"])
            .filter(F.col("query_id") != F.col("target_id"))  # J5 analog
            .select("query_id", "target_id")
            .distinct())


def rank_answers(cands: DataFrame, query_sigs: DataFrame,
                 stored_sigs: DataFrame, cfg: PipelineConfig, k: int,
                 max_distance: float,
                 broadcast_probe: bool = True) -> DataFrame:
    """candidates -> per-query top-k by sketch distance (1 - slot-agree
    Jaccard estimate), the reference's answer rule (dnarequest.rs:83)."""
    qs = query_sigs.select(F.col("image_id").alias("query_id"),
                           F.col("minhash").alias("q_minhash"),
                           F.col("phash").alias("q_phash"),
                           F.col("cap_hash").alias("q_cap"))
    if broadcast_probe:
        qs = F.broadcast(qs)
    ts = stored_sigs.select(F.col("image_id").alias("target_id"),
                            F.col("minhash").alias("t_minhash"),
                            F.col("phash").alias("t_phash"),
                            F.col("cap_hash").alias("t_cap"))
    # candidates ≪ index: join candidate ids into the big signatures table
    # (AQE broadcasts the candidate side when it fits); phash prefilter
    # kills junk BEFORE the window shuffle.
    scored = (ts.join(cands, "target_id").join(qs, "query_id")
              .withColumn("phash_ham",
                          F.bit_count(F.col("q_phash")
                                      .bitwiseXOR(F.col("t_phash")))
                          .cast("int"))
              .filter(F.col("phash_ham")
                      <= cfg.prefilter_max_phash_hamming)
              .withColumn(
                  "eq_slots",
                  F.aggregate(
                      F.zip_with("q_minhash", "t_minhash",
                                 lambda x, y: F.when(x == y, 1)
                                 .otherwise(0)),
                      F.lit(0), lambda acc, x: acc + x))
              .withColumn("j_est",
                          F.round(F.col("eq_slots")
                                  / F.lit(float(cfg.sketch_size)), 6))
              .withColumn("distance",
                          F.round(1.0 - F.col("j_est"), 6))
              .withColumn("caption_eq", F.col("q_cap") == F.col("t_cap"))
              .filter(F.col("distance") <= max_distance))
    # reformat-analog answer columns (gsearch src/bin/reformat.rs:80-86):
    # ANI model 1 (Poisson) = (1 + ln(2j/(1+j))/k) * 100,
    # ANI model 2 (binomial) = (2j/(1+j))^(1/k) * 100, k = shingle k-gram
    # size (the kmer analog).  j = 0 (possible only at max_distance = 1)
    # yields NULL instead of model 1's -inf.
    kmer = float(cfg.caption_kgram)
    ratio = 2.0 * F.col("j_est") / (1.0 + F.col("j_est"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("target_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .withColumn("ani",
                        F.when(F.col("j_est") > 0,
                               F.round((1.0 + F.log(ratio) / kmer) * 100.0,
                                       6)))
            .withColumn("ani_m2",
                        F.when(F.col("j_est") > 0,
                               F.round(F.pow(ratio, 1.0 / kmer) * 100.0, 6)))
            .select("query_id", "target_id", "j_est", "phash_ham",
                    "caption_eq", "distance", "rank", "ani", "ani_m2"))


def request(spark: SparkSession, checkpoint_dir: str,
            query_images: DataFrame, k: int = 5,
            max_distance: float = 0.99,
            cfg: PipelineConfig | None = None,
            broadcast_probe: bool = True,
            max_bucket_probe: "int | None" = None) -> DataFrame:
    """Top-k neighbors for each query image against a stored build.

    * Reloads the build's parameters.json; if ``cfg`` is supplied it must
      hash-match (the reference refuses mixed-config requests).
    * ``query_images`` needs the input-table shape: image_id, bytes,
      caption, phash.
    * Returns ANSWERS_SCHEMA rows; distance = 1 - minhash-slot agreement.
    * ``max_bucket_probe``: None (default) applies the stored config's
      viral-bucket cap (``PipelineConfig.max_bucket_probe``, 0 = exact);
      an explicit int overrides it, 0 forces exact.
    * Removed images never answer: the removal sidecars apply on every
      call (``remove.read_removal_state``); on a build without removes
      they are empty and the optimizer folds their joins away.
    """
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import read_layout
    stored_cfg = PipelineConfig.reload_via(CheckpointFS(spark, checkpoint_dir),
                                           checkpoint_dir)
    if cfg is not None and cfg.config_hash() != stored_cfg.config_hash():
        raise ValueError(
            "request config does not match the stored build: "
            f"stored={stored_cfg.config_hash()} given={cfg.config_hash()}; "
            "re-sketch queries with the original parameters (reference "
            "parameters.json discipline)")
    cfg = stored_cfg
    if max_bucket_probe is None:
        max_bucket_probe = cfg.max_bucket_probe
    cap = max_bucket_probe if max_bucket_probe else None  # 0 = exact

    # localCheckpoint (eager): the probe signatures feed BOTH the band
    # explode and the answer ranking; without the cut, each consumer
    # re-runs the decode+sketch UDF (the expensive half, doubled for
    # large probe sets).  localCheckpoint, not persist — a persisted
    # plan over a rewritten checkpoint path once leaked stale results
    # through Spark's plan-keyed cache (the documented pitfall).
    q_sigs = compute_signatures(query_images, cfg).localCheckpoint()
    q_bands = explode_all_bands(q_sigs, cfg)
    stored_bands = read_layout(spark, checkpoint_dir, "bands")
    stored_sigs = read_layout(spark, checkpoint_dir, "signatures")
    cands = probe_candidates(q_bands, stored_bands,
                             broadcast_probe=broadcast_probe,
                             max_bucket_probe=cap)
    # merge-on-read removals (operators/remove.py): stored bands and
    # signatures stay keyed by founding group nodes until purge.
    # Candidates against a DEAD group are gone content (dropped before
    # ranking); ranking runs on the founding node's signature (the
    # surviving member is byte-and-caption identical), and the ANSWER id
    # is then remapped to that live member so no tombstoned id escapes.
    # Without removals both sidecars are empty and their joins fold out.
    from gsearch_spark.operators.remove import (drop_dead,
                                                read_removal_state,
                                                remap_col)
    dead, remap = read_removal_state(spark, checkpoint_dir)
    ranked = rank_answers(drop_dead(cands, "target_id", dead), q_sigs,
                          stored_sigs, cfg, k, max_distance,
                          broadcast_probe=broadcast_probe)
    return remap_col(ranked, "target_id", remap)
