"""Stage 2: signatures -> salted LSH band keys (the "index build").

Replaces the reference's HNSW graph construction
(``hnsw.parallel_insert``, gsearch ``src/dna/dnasketch.rs:421-448``) with
the scalable Spark-native equivalent: every signature explodes into
``bands`` keys; items sharing a (band_id, band_hash) bucket are candidate
neighbors.  The (bands x rows_per_band) split is the LSH analog of the
reference's ef/nbng quality-vs-cost knobs (``README.md:680-689``).

Band hashes are computed **JVM-side** with ``xxhash64`` over the band's
minhash slots — whole-stage-codegen'd, no Python in this stage.

Skew (north_rule: "partitioning / shuffle / skew handled explicitly"):
hot buckets — e.g. thousands of identical all-black thumbnails — would
turn the bucket self-join into O(n^2).  We:
  1. count bucket sizes (``groupBy(band_id, band_hash).count()``),
  2. broadcast the (tiny) hot-bucket list back,
  3. split hot buckets into ``ceil(size / hot_band_threshold)`` (capped at
     ``band_salts``) sub-buckets, salt = hash(image_id, band_id) so each
     band partitions the same items DIFFERENTLY — across ``bands``
     independent band sets two co-bucketed items still meet w.p.
     1 - (1 - 1/S)^bands, and connected-components only needs a spanning
     set of edges, not all of them.

SimHash banding: the 64-bit simhash splits into ``simhash_bands`` chunks
(16 bits each by default); two signatures within Hamming distance
(simhash_bands - 1) share at least one intact chunk (pigeonhole), giving
exact coverage of small Hamming balls — the Hamming-neighborhood search
the reference does over sketch slots (``src/bin/bindash.rs:93-97``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gsearch_spark.session import local_frame

BANDS_SCHEMA = "band_id int, band_hash bigint, salt int, image_id string"
SIMHASH_BAND_ID_OFFSET = 1000
PHASH_BAND_ID_OFFSET = 2000
CAPTION_BAND_ID = 3000


def salt_hot_buckets(bands_df: DataFrame, hot_threshold: int,
                     max_salts: int,
                     max_hot_buckets: int = 100_000,
                     stats_source: "DataFrame | None" = None,
                     sample_mod: int = 1) -> DataFrame:
    """Assign per-row salts; only buckets above hot_threshold are split.

    The hot-bucket list is tiny by construction (duplicate blow-ups, not
    the norm) and is broadcast — no shuffle of the big side beyond the
    bucket count aggregation (map-side partial agg keeps that cheap).
    The stats pass is collected eagerly: ``F.broadcast`` pulls it to the
    driver anyway, and an eager local relation avoids recomputing (or
    having to persist) the exploded band table — persisting it here once
    poisoned a later incremental-add run through Spark's plan-keyed
    cache reuse.

    The collect is BOUNDED: only the ``max_hot_buckets`` hottest buckets
    are salted (deterministic order: size desc, then key), so the
    driver-side list is O(max_hot_buckets) no matter the input size.
    Buckets past the cap stay unsalted — still CORRECT (candidate
    emission's star policy caps their pairs at 2m-3) just less balanced;
    the truncation is logged, never silent.

    SAMPLED stats (``stats_source``/``sample_mod``): hot-bucket detection
    does not need exact counts — a bucket at k x threshold sampled 1/k
    still lands far above threshold/k, and the failure mode of a miss is
    merely an unsalted bucket whose pair count the star policy already
    bounds.  Passing a deterministic 1/sample_mod id-hash sample as
    ``stats_source`` cuts the stats shuffle (the measured scaling
    residual's largest share) by sample_mod while keeping salting exact
    on everything clearly hot.  Counts scale back up by sample_mod; the
    sampled threshold is hot_threshold/sample_mod.
    """
    import logging

    src = stats_source if stats_source is not None else bands_df
    eff_threshold = max(1, hot_threshold // sample_mod)
    spark = bands_df.sparkSession
    hot_rows = (src.groupBy("band_id", "band_hash")
                .agg(F.count(F.lit(1)).alias("sampled_n"))
                .filter(F.col("sampled_n") > eff_threshold)
                .withColumn("bucket_n", F.col("sampled_n") * sample_mod)
                .withColumn(
                    "n_salt",
                    F.least(F.lit(max_salts),
                            F.ceil(F.col("bucket_n") / hot_threshold)
                            .cast("int")))
                .orderBy(F.desc("bucket_n"), "band_id", "band_hash")
                .limit(max_hot_buckets + 1)
                .select("band_id", "band_hash", "n_salt")
                .collect())
    if len(hot_rows) > max_hot_buckets:
        hot_rows = hot_rows[:max_hot_buckets]
        logging.getLogger(__name__).warning(
            "salt_hot_buckets: more than %d hot buckets; salting only the "
            "%d hottest (tail stays unsalted, star policy bounds its pairs)",
            max_hot_buckets, max_hot_buckets)
    stats = local_frame(spark, hot_rows,
                        "band_id int, band_hash bigint, n_salt int")
    return (bands_df
            .join(F.broadcast(stats), ["band_id", "band_hash"], "left")
            .withColumn("n_salt", F.coalesce(F.col("n_salt"), F.lit(1)))
            .withColumn(
                "salt",
                F.when(F.col("n_salt") <= 1, F.lit(0)).otherwise(
                    F.pmod(F.xxhash64("image_id", "band_id"),
                           F.col("n_salt")).cast("int")))
            .select("band_id", "band_hash", "salt", "image_id"))


def explode_all_bands(signatures: DataFrame, cfg) -> DataFrame:
    """signatures -> UNSALTED (band_id, band_hash, image_id) across every
    band family, via ONE fused explode.

    Shared by the build path (which salts the result) and the probe path
    of :func:`gsearch_spark.operators.request.request` (which joins it
    against a stored salted table on (band_id, band_hash) — salting only
    matters for the self-join's skew, not for probing).

    Band families:
      * minhash bands (LSH quality knob),
      * simhash chunk-PAIR bands (pixel-feature Hamming<=2 net),
      * caption-identity band (skipped for empty captions): every
        verifiable near-dup class except caption-substring shares its
        normalized caption — junk is just same-caption hard negatives,
        killed by the phash prefilter before any decode,
      * phash chunk-COMBO bands over ALL rows (default C(4,2) pairs,
        32-bit keys): the only net with GUARANTEED coverage of the
        re-encode regime — exact Hamming <= (phash_chunks - phash_combo)
        (a lossy re-encode flips a few phash bits but 40-60
        pixel-simhash bits, and a simultaneously TRUNCATED caption kills
        the caption band and halves minhash J — the adversarial case in
        tests/test_suffix_array.py; cfg 8/4 widens the radius to 4 at
        ~3x candidate cost).  Junk cost is bounded by 32-bit combo keys,
        salting, the star policy, and the src-aware prefilter.  Single
        16-bit chunks are NOT usable as keys: phash bits are
        DCT-sign-structured and correlated across images (~1.7M junk
        pairs at 188k rows in round 1).

    ONE explode instead of a 4-way union: the union form scans the
    signatures input once PER FAMILY per pass (8 scans across the stats
    and salt passes — measured as 4x-partition-count task storms that
    anti-scale in the shared-JVM scheduler and re-run the signature UDF
    when the input is an unmaterialized persist).  The fused form scans
    once per pass and keeps one task per input partition.
    """
    return (signatures
            .select("image_id",
                    F.explode(F.expr(_bands_sql(cfg))).alias("e"))
            .filter(F.col("e.band_hash").isNotNull())
            .select(F.col("e.band_id").alias("band_id"),
                    F.col("e.band_hash").alias("band_hash"), "image_id"))


def _bands_sql(cfg) -> str:
    """The fused band array of :func:`explode_all_bands` as ONE SQL
    expression: ``array(named_struct('band_id', id, 'band_hash',
    xxhash64(id, ...)), ...)``.  Built as Column objects it took ~1,300
    py4j calls (0.3-0.65 s of driver time per build, add pass and
    request); one string is parsed by the JVM in one call.  Band ids,
    xxhash64 argument order and literal types (int ids and masks) are
    those of the stored bands tables, which probes must keep matching —
    tests/test_primitives.py pins the rows with golden digests."""
    from itertools import combinations
    from gsearch_spark.operators.signatures import EMPTY_CAPTION_HASH

    def band(band_id: int, hashed: str) -> str:
        return f"named_struct('band_id', {band_id}, 'band_hash', {hashed})"

    r = cfg.rows_per_band
    entries = []
    for b in range(cfg.bands):
        slots = ", ".join(f"element_at(minhash, {b * r + j + 1})"
                          for j in range(r))
        entries.append(band(b, f"xxhash64({b}, {slots})"))
    # chunk-combination bands of a 64-bit column: simhash chunk PAIRS,
    # phash chunk COMBOs
    for col, n_chunks, k, offset in (
            ("simhash", cfg.simhash_bands, 2, SIMHASH_BAND_ID_OFFSET),
            ("phash", cfg.phash_chunks, cfg.phash_combo,
             PHASH_BAND_ID_OFFSET)):
        width = 64 // n_chunks
        mask = (1 << width) - 1
        for i, sel in enumerate(combinations(range(n_chunks), k)):
            chunks = ", ".join(f"(shiftright({col}, {c * width}) & {mask})"
                               for c in sel)
            entries.append(band(offset + i,
                                f"xxhash64({offset + i}, {chunks})"))
    # caption band last; emitted as NULL hash for empty captions and
    # filtered out post-explode (keeps the array shape static)
    entries.append(band(CAPTION_BAND_ID, "CASE WHEN cap_hash != "
                        f"{EMPTY_CAPTION_HASH} THEN cap_hash END"))
    return f"array({', '.join(entries)})"


def build_bands(signatures: DataFrame, cfg) -> DataFrame:
    """Full banding stage: minhash ∪ simhash ∪ caption ∪ phash bands, salted.

    The exploded band table feeds two passes (bucket stats, then the salt
    join); the stats side is collected eagerly inside salt_hot_buckets
    (it is broadcast-sized by construction), so no persist is needed and
    no cached plan can leak into later runs over the same checkpoint.

    Hot-bucket stats run over a deterministic 1/hot_stats_sample_mod
    id-hash sample of the SIGNATURES (exploded separately — a narrow op
    over sample_mod-times fewer rows), so the stats shuffle shrinks by
    sample_mod.  Sampling by image_id keeps the result independent of
    input partitioning (determinism contract).
    """
    k = cfg.hot_stats_sample_mod
    exploded = explode_all_bands(signatures, cfg)
    stats_src = None
    if k > 1:
        sample = signatures.filter(
            F.pmod(F.xxhash64("image_id"), F.lit(k)) == 0)
        stats_src = explode_all_bands(sample, cfg)
    return salt_hot_buckets(exploded,
                            cfg.hot_band_threshold, cfg.band_salts,
                            max_hot_buckets=cfg.max_hot_buckets,
                            stats_source=stats_src, sample_mod=k)
