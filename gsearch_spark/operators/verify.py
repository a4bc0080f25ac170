"""Stage 4: candidate pairs -> verified edges.

The analog of the reference's answer thresholding (neighbors kept only
under distance <= 0.99, gsearch ``src/dna/dnarequest.rs:83``,
``src/answer.rs:42-55``) — but our acceptance rule is the exact per-row
invariant from BASELINE.json's input_hint:

    pixel_ok:   decoded pixels allclose (lossless) or PSNR >= 40 dB (lossy
                / perturbed), shapes must match;
    caption_ok: normalized equality, or strict substring either way
                (accepting the suffix pass's containment pairs).

Cost shape (SURVEY §7.3): decoding is ~10^3 x sketching cost, so this
stage must only ever touch **candidate** pairs, never the full table.  The
two image-side joins are the only places ``bytes`` is shuffled; pair
volume is bounded by the banding stage's star policy.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gsearch_spark.codec import decode_image, psnr
from gsearch_spark.config import PipelineConfig
from gsearch_spark.shingles import normalize_caption

# psnr sentinel convention (documented contract, not an accident):
#   +1e9  = pixels bit-identical (PSNR would be +inf)
#   -1e9  = shape mismatch (PSNR undefined; never a dup)
# Sentinels instead of IEEE inf keep downstream arithmetic (report
# distance 1/(1+psnr)) and cross-engine canonicalization well-defined.
PSNR_IDENTICAL = 1e9
PSNR_SHAPE_MISMATCH = -1e9

VERIFIED_SCHEMA = ("a string, b string, src string, psnr double, "
                   "caption_eq boolean, dup boolean")


def pair_phashes(pairs: DataFrame, images: DataFrame) -> DataFrame:
    """``pairs`` (a, b, src) with both endpoints' ``phash_a`` /
    ``phash_b`` from ``images`` — the prefilter's metadata join.  The
    joins are inner: a pair with an endpoint missing from ``images``
    drops out here, before any cap or verdict sees it."""
    meta = images.select("image_id", "phash")
    pa_ = meta.select(F.col("image_id").alias("a"),
                      F.col("phash").alias("phash_a"))
    pb = meta.select(F.col("image_id").alias("b"),
                     F.col("phash").alias("phash_b"))
    return pairs.join(pa_, "a").join(pb, "b")


def prefilter_pairs(with_phashes: DataFrame,
                    max_phash_hamming: int = 20,
                    max_phash_hamming_phash_src: int = 8) -> DataFrame:
    """Phase-1 verify: JVM metadata prefilter, no bytes, no Python, over
    the pairs :func:`pair_phashes` joined their endpoints' phash onto.

    A candidate pair can only satisfy the PSNR >= 40 dB invariant when
    the images are visually near-identical, which bounds their phash
    Hamming distance far below random (~32 +- 4 for unrelated images;
    <= ~6 for true duplicates; 20 leaves a 3-sigma margin).  Junk pairs
    from coarse band collisions therefore die on one ``bit_count(xor)``
    each, BEFORE any payload join — the expensive bytes shuffle and
    pixel decode only ever see plausible pairs.  (Reference analog: the
    sketch-distance threshold applied before answers are dumped,
    gsearch src/dna/dnarequest.rs:83.)

    Pairs whose ONLY generator is the phash chunk-pair band (src =
    'phash') get a TIGHTER bound: that band exists purely for the
    re-encode regime (true positives sit at Hamming <= ~4), while its
    false positives are structured DCT-sign collisions that agree on 32
    banded bits yet differ widely on the rest (measured: +1.6
    pairs/image of such junk when phash bands cover all rows).  The
    loose bound stays for caption/minhash/simhash sources, whose true
    pairs (pixel perturbations) can move phash further.
    """
    bound = F.when(F.col("src") == "phash",
                   F.lit(max_phash_hamming_phash_src)) \
             .otherwise(F.lit(max_phash_hamming))
    return (with_phashes
            .filter(F.bit_count(
                F.col("phash_a").bitwiseXOR(F.col("phash_b"))) <= bound)
            .select("a", "b", "src"))


# Broadcast budget of the payload attach's candidate-id semi join, in
# distinct ids.  Execution strategy only (never signature-affecting),
# hence a constant and not a PipelineConfig field.
BROADCAST_MAX_IDS = 5_000_000


def attach_strategy(cfg: PipelineConfig, n_ids_bound: "int | None") -> str:
    """The one attach rule: broadcast the candidate-id set when the
    caller's bound on its distinct ids fits ``BROADCAST_MAX_IDS``, else
    (past it, or with no bound) the shuffle-hash semi join.  The bound
    comes from sizes the caller already holds — the build's
    candidate_pairs stage record, the add's new-row count x candidate
    cap — so choosing costs no job (*To Partition, or Not to
    Partition*, SIGMOD 2021: decide broadcast vs partitioned once, from
    a size the engine knows).  ``cfg.verify_attach`` "broadcast" /
    "shuffle" overrides the rule."""
    if cfg.verify_attach != "auto":
        return cfg.verify_attach
    if n_ids_bound is not None and n_ids_bound <= BROADCAST_MAX_IDS:
        return "broadcast"
    return "shuffle"


def attach_payloads(pairs: DataFrame, images: DataFrame,
                    strategy: str = "shuffle",
                    materialize_slim: bool = False) -> DataFrame:
    """pairs (a,b,src) + images -> one row per pair with both payloads.

    ``bytes`` is the expensive column; a left-semi prefilter restricts the
    images side to ids that actually appear in a candidate pair BEFORE the
    two payload joins, so only candidate payloads ever shuffle.

    ``strategy`` (from :func:`attach_strategy`) is the semi join's:
    ``broadcast`` ships the keys-only id set to every task — the fast
    path, since the set is normally orders of magnitude smaller than the
    table; ``shuffle`` (the default, safe at any size) is a SHUFFLE-HASH
    semi join for id sets that could OOM the driver — billions of keys at
    10^12 rows — and shuffles the payload table once on image_id, which
    is bounded and spillable.  Neither runs a job to decide.

    ``materialize_slim``: both payload joins below consume ``slim``, so
    the plan otherwise scans the full payload table TWICE.  When the
    candidate id set is known-small (the append path: O(new x cap) ids
    out of the whole corpus), an eager ``localCheckpoint`` of the slim
    slice pays one scan and serves both joins from memory — the guide
    §8 rule (move heavy bytes once).  Left off for the full build,
    where slim is corpus-sized and the copy would cost more than the
    second scan.
    """
    cand_ids = (pairs.select(F.col("a").alias("image_id"))
                .union(pairs.select(F.col("b").alias("image_id")))
                .distinct())
    if strategy == "broadcast":
        semi = F.broadcast(cand_ids)
    else:
        # shuffle-hash, not sort-merge: the build side (ids) is tiny per
        # partition and the probe side (payloads) must not be sorted.
        # (A Bloom-filter semi variant was considered; bloom_filter_agg /
        # might_contain are internal expressions, not public SQL, in this
        # Spark build — Spark's own runtime bloom join already kicks in
        # for the shuffle path when beneficial.)
        semi = cand_ids.hint("shuffle_hash")
    slim = images.join(semi, "image_id", "left_semi") \
                 .select("image_id", "bytes", "caption")
    if materialize_slim:
        slim = slim.localCheckpoint()
    left = slim.select(F.col("image_id").alias("a"),
                       F.col("bytes").alias("bytes_a"),
                       F.col("caption").alias("caption_a"))
    right = slim.select(F.col("image_id").alias("b"),
                        F.col("bytes").alias("bytes_b"),
                        F.col("caption").alias("caption_b"))
    return pairs.join(left, "a").join(right, "b")


def verify_pairs(pairs_with_payloads: DataFrame,
                 cfg: PipelineConfig) -> DataFrame:
    """Arrow-batched verification; returns ALL candidate rows with the
    verdict (filter on ``dup`` for edges; keep full rows for metrics)."""

    min_db = cfg.psnr_min_db

    # Per-batch decode memo: candidate pairs repeat image ids heavily
    # (star edges fan one rep out to a whole bucket; a hot item sits in
    # many surviving pairs), and decode dominates this stage's CPU — so
    # each distinct id decodes ONCE per Arrow batch, not once per pair.
    # The memo is cleared when it holds MEMO_MAX decoded images so its
    # memory stays bounded no matter the batch's id diversity (worst
    # case it degenerates to decode-per-pair, never OOM).
    MEMO_MAX = 1024

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE memo per task, not per batch (guide §4.5): pairs arrive
        # sorted by (a, b), so a star rep whose fan-out spans several
        # Arrow batches decodes once per task instead of once per batch
        dec: "dict[object, np.ndarray]" = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue

            def decode_memo(iid, raw):
                arr = dec.get(iid)
                if arr is None:
                    if len(dec) >= MEMO_MAX:
                        dec.clear()
                    arr = decode_image(raw)
                    dec[iid] = arr
                return arr

            psnrs = np.empty(n, dtype=np.float64)
            cap_ok = np.empty(n, dtype=bool)
            dup = np.empty(n, dtype=bool)
            for i in range(n):
                pa_ = decode_memo(pdf["a"].iat[i], pdf["bytes_a"].iat[i])
                pb = decode_memo(pdf["b"].iat[i], pdf["bytes_b"].iat[i])
                if pa_.shape != pb.shape:
                    p = float("-inf")
                elif np.array_equal(pa_, pb):
                    p = float("inf")
                else:
                    p = psnr(pa_, pb)
                na = normalize_caption(pdf["caption_a"].iat[i])
                nb = normalize_caption(pdf["caption_b"].iat[i])
                c = (na == nb) or (min(len(na), len(nb)) > 0
                                   and (na in nb or nb in na))
                psnrs[i] = p if np.isfinite(p) else (
                    PSNR_IDENTICAL if p > 0 else PSNR_SHAPE_MISMATCH)
                cap_ok[i] = c
                dup[i] = (p >= min_db) and c
            yield pd.DataFrame({
                "a": pdf["a"].to_numpy(), "b": pdf["b"].to_numpy(),
                "src": pdf["src"].to_numpy(),
                "psnr": psnrs, "caption_eq": cap_ok, "dup": dup,
            })

    cols = pairs_with_payloads.select(
        "a", "b", "src", "bytes_a", "bytes_b", "caption_a", "caption_b")
    # AQE coalesces post-join partitions by SHUFFLE SIZE, which starves
    # this decode-heavy Python stage of parallelism (observed: 32 cores,
    # load ~5, because a few coalesced partitions held all pairs).  Cost
    # here is CPU per row, not bytes — force even task fan-out.  Hashing
    # on "a" (instead of round-robin) plus a partition-local sort lands a
    # star rep's whole fan-out adjacently in one task, so the decode memo
    # above actually hits; per-a pair counts are bounded by the star /
    # add-candidate caps, so no straggler task.
    spark = pairs_with_payloads.sparkSession
    target = spark.sparkContext.defaultParallelism * 2
    return (cols.repartition(target, "a")
            .sortWithinPartitions("a", "b")
            .mapInPandas(run, schema=VERIFIED_SCHEMA))


def verified_edges(pairs: DataFrame, images: DataFrame,
                   cfg: PipelineConfig,
                   n_pairs_hint: "int | None" = None) -> DataFrame:
    """Full verify stage: metadata prefilter (phase 1, JVM) -> payload
    attach -> pixel/caption verify (phase 2, Arrow); keep dup edges.

    The prefiltered pair list is cut eagerly: it feeds both the
    candidate-id semi join AND the pair probe side — two evaluations of
    the same meta-join subtree without the cut (guide §2.4 duplicated
    subtrees).  It is keys-only rows of the same magnitude as the
    candidate_pairs checkpoint (star-capped, so O(n x bands) even at
    10^12 rows — the stage already materializes that table to parquet).

    ``n_pairs_hint``: the caller's known upper bound on the INPUT pair
    count (the pipeline already holds the candidate_pairs stage record).
    Distinct candidate ids never exceed two per pair, so ``2 x hint``
    is the attach rule's bound; without a hint the attach shuffles."""
    plausible = prefilter_pairs(pair_phashes(pairs, images),
                                cfg.prefilter_max_phash_hamming,
                                cfg.prefilter_max_phash_hamming_phash_src
                                ).localCheckpoint()
    bound = None if n_pairs_hint is None else 2 * n_pairs_hint
    attached = attach_payloads(plausible, images,
                               strategy=attach_strategy(cfg, bound))
    verdicts = verify_pairs(attached, cfg)
    return verdicts.filter(F.col("dup")).select(
        "a", "b", "src", "psnr", "caption_eq")
