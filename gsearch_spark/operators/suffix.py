"""Stage 3b: suffix-array caption-substring pass (north_rule J7).

Not present in the reference (its only join predicate is metric
proximity, SURVEY §2.5); mandated by BASELINE.json: exact
caption-substring duplicates — same pixels, one caption a strict
substring of the other — must be caught even when shingle Jaccard falls
below the LSH threshold.

Scale design: substring pairs require co-location, and FIXTURES.md plants
them with identical pixels, so the **phash is the co-location key**
(identical pixels => identical phash).  ``applyInPandas`` groups captions
by phash; within each group a *generalized suffix array* over the
concatenated normalized captions (prefix-doubling construction, O(n log^2
n), fully numpy) locates every caption that occurs inside another.  Exact
caption *equality* across different pixels is the MinHash/exact path's
job, not this pass's.

COVERAGE CONTRACT: this pass catches substring-caption dups with
IDENTICAL pixels (same phash).  A pair that is BOTH lossy-re-encoded
(phash flips bits) AND caption-truncated lands in different phash
groups and is NOT this pass's job — it is caught by the phash
chunk-COMBO band net (exact Hamming <= phash_chunks - phash_combo over
ALL rows: 2 by default, 4 with the wide-radius config — see
banding.explode_all_bands), and verify's substring rule then accepts
the pair.  tests/test_suffix_array.py::
test_reencode_plus_truncation_caught_by_phash_net proves BOTH radii
end-to-end with an adversarial fixture.

Within a group, images sharing the same caption value are represented by
their minimum image_id — identical (pixels, caption) rows are already
connected by the exact/minhash path, so representative edges keep the
component connected without emitting cliques.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gsearch_spark.shingles import normalize_caption

PAIRS_SCHEMA = "a string, b string, src string"
_SEP = "\x01"
_GROUP_CAPTION_CAP = 10_000  # guard: distinct captions per phash group


def suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling (numpy, O(n log^2 n))."""
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    sa = np.argsort(s, kind="stable").astype(np.int64)
    rank = np.empty(n, dtype=np.int64)
    sorted_s = s[sa]
    rank[sa] = np.cumsum(
        np.concatenate([[0], (sorted_s[1:] != sorted_s[:-1]).astype(np.int64)]))
    k = 1
    while k < n:
        r2 = np.full(n, -1, dtype=np.int64)
        r2[:n - k] = rank[k:]
        order = np.lexsort((r2, rank))
        ra, rb = rank[order], r2[order]
        changed = np.concatenate(
            [[0], ((ra[1:] != ra[:-1]) | (rb[1:] != rb[:-1])).astype(np.int64)])
        new_rank = np.cumsum(changed)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = new_rank
        sa = order.astype(np.int64)
        if new_rank[-1] == n - 1:
            break
        k *= 2
    return sa


def _suffix_ge(text: np.ndarray, pos: int, pat: np.ndarray) -> bool:
    """True if suffix text[pos:] >= pat (lexicographic, numpy compare)."""
    seg = text[pos:pos + len(pat)]
    m = min(len(seg), len(pat))
    neq = np.nonzero(seg[:m] != pat[:m])[0]
    if len(neq):
        return seg[neq[0]] > pat[neq[0]]
    return len(seg) >= len(pat)  # equal prefix: longer-or-equal suffix wins


def _suffix_startswith(text: np.ndarray, pos: int, pat: np.ndarray) -> bool:
    seg = text[pos:pos + len(pat)]
    return len(seg) == len(pat) and bool(np.all(seg == pat))


def find_pattern_range(text: np.ndarray, sa: np.ndarray, pat: np.ndarray
                       ) -> "tuple[int, int]":
    """Binary-search the SA for the interval of suffixes starting with pat."""
    lo, hi = 0, len(sa)
    while lo < hi:  # first suffix >= pat
        mid = (lo + hi) // 2
        if _suffix_ge(text, int(sa[mid]), pat):
            hi = mid
        else:
            lo = mid + 1
    start = lo
    hi = len(sa)
    while lo < hi:  # first suffix NOT starting with pat
        mid = (lo + hi) // 2
        if _suffix_startswith(text, int(sa[mid]), pat):
            lo = mid + 1
        else:
            hi = mid
    return start, lo


def containment_pairs_in_group(captions: "list[str]",
                               owners: "list[str]") -> "list[tuple[str, str]]":
    """Pairs (rep_a, rep_b) where caption of one strictly contains the
    other's.  ``captions`` are normalized and deduplicated; ``owners`` are
    the representative image_ids.  Matches cannot cross caption
    boundaries: the separator never occurs inside a pattern.
    """
    concat = _SEP.join(captions) + _SEP
    text = np.frombuffer(concat.encode("utf-8", "surrogatepass"),
                         dtype=np.uint8)
    # recompute byte offsets of each caption in the utf-8 buffer
    starts = np.zeros(len(captions) + 1, dtype=np.int64)
    acc = 0
    for i, c in enumerate(captions):
        starts[i] = acc
        acc += len(c.encode("utf-8", "surrogatepass")) + 1
    starts[-1] = acc
    sa = suffix_array(text)
    out = []
    for i, c in enumerate(captions):
        pat = np.frombuffer(c.encode("utf-8", "surrogatepass"), dtype=np.uint8)
        if len(pat) == 0:
            continue
        lo, hi = find_pattern_range(text, sa, pat)
        if hi - lo <= 0:
            continue
        pos = np.sort(sa[lo:hi])
        owner_idx = np.searchsorted(starts, pos, side="right") - 1
        for oi in np.unique(owner_idx):
            if oi != i:  # occurs inside a DIFFERENT caption => containment
                a, b = owners[i], owners[int(oi)]
                out.append((a, b) if a < b else (b, a))
    return out


# direct-substring fast path bound: below this many distinct captions a
# group's containment pairs come from O(n^2) C-level ``in`` checks —
# for the typical 2-6 caption group this is tens of microseconds, vs
# ~2 ms for the pandas + suffix-array machinery (measured 4.3 s of pure
# per-group overhead across 1,942 eligible groups at bench scale).  The
# suffix array keeps the big-group O(n log^2 n) guarantee.
_DIRECT_MAX = 128


def _pairs_for_group(norm_caps: "list[str]", owner_ids: "list[str]",
                     cap: int = _GROUP_CAPTION_CAP
                     ) -> "list[tuple[str, str]]":
    """Containment pairs for ONE phash group from (python-normalized
    caption, owner id) rows: dedup captions to their min owner, sort,
    then direct-substring (small groups) or suffix-array (large) search;
    groups past ``cap`` distinct captions keep the star-edge tail
    policy.  Pure function shared by the pandas wrapper below and the
    packed mapInPandas path of :func:`suffix_candidate_pairs` — the
    emitted pair SET is identical to the round-5 per-group pandas form.
    """
    best: "dict[str, str]" = {}
    for c, o in zip(norm_caps, owner_ids):
        if c and (c not in best or o < best[c]):
            best[c] = o
    if len(best) < 2:
        return []
    items = sorted(best.items())
    captions = [c for c, _ in items][:cap]
    owners = [o for _, o in items][:cap]
    if len(captions) <= _DIRECT_MAX:
        # distinct captions => containment is automatically strict
        pairs = []
        for i, ci in enumerate(captions):
            for j, cj in enumerate(captions):
                if i != j and ci in cj:
                    a, b = owners[i], owners[j]
                    pairs.append((a, b) if a < b else (b, a))
    else:
        pairs = containment_pairs_in_group(captions, owners)
    if len(items) > cap:
        import logging
        logging.getLogger(__name__).warning(
            "suffix pass: phash group with %d distinct captions exceeds "
            "cap %d; emitting star edges for the tail", len(items), cap)
        hubs = sorted(owners)[:2]
        for _, t in items[cap:]:
            for h in hubs:
                pairs.append((h, t) if h < t else (t, h))
    return pairs


def group_containment_pairs(pdf: pd.DataFrame,
                            cap: int = _GROUP_CAPTION_CAP) -> pd.DataFrame:
    """One phash group -> suffix candidate pairs (a, b, src).

    Groups with more than ``cap`` distinct captions run the suffix array
    over the ``cap`` smallest; the TAIL IS NOT DROPPED — every tail
    owner gets star candidate edges to the 2 smallest in-budget owners
    (2 per row, never O(n^2)).  Verify applies the real containment
    rule, so the extra candidates cost one check each and lose nothing;
    the truncation is logged, never silent.
    """
    normed = [normalize_caption(c)
              for c in pdf["caption"].fillna("").tolist()]
    pairs = _pairs_for_group(normed, pdf["image_id"].tolist(), cap)
    if not pairs:
        return pd.DataFrame({"a": [], "b": [], "src": []})
    a, b = zip(*sorted(set(pairs)))
    return pd.DataFrame({"a": list(a), "b": list(b), "src": "suffix"})


def suffix_candidate_pairs(images: DataFrame) -> DataFrame:
    """images -> suffix-source candidate pairs, grouped by phash.

    Scale shape: a JVM-side prefilter keeps only phash groups with >= 2
    DISTINCT (JVM-normalized) non-empty captions — on real data the vast
    majority of groups are singletons or same-caption dup stacks, so the
    Python suffix-array pass only ever sees the tiny eligible remainder.
    The JVM normalization (``\\s`` is ASCII-only) collapses no more than
    the Python one (Unicode ``\\s+``), so the prefilter can only
    over-keep, never drop an eligible group.

    Execution shape (changed for guide §4.1: the per-group
    ``applyInPandas`` form paid ~3-4 ms of Arrow/pandas conversion PER
    GROUP — 7-9 s across ~2k two-caption groups at bench scale, pure
    overhead): rows first dedup JVM-side to one (phash, caption,
    min image_id) row per raw caption (identical raw captions can only
    share a normalized form, so min-over-raw feeds min-over-normalized
    unchanged), groups pack into one array-of-structs row each
    (bounded: distinct captions per group, the same rows the old form
    shipped), and ONE ``mapInPandas`` walks many groups per Arrow
    batch.  Emitted pair set is bit-identical (pinned by the suffix
    tests and the candidate_pairs oracle)."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out_a: "list[str]" = []
            out_b: "list[str]" = []
            for grp in pdf["rows"]:
                norm = [normalize_caption(e["caption"]) for e in grp]
                ids = [e["image_id"] for e in grp]
                for a, b in _pairs_for_group(norm, ids,
                                             _GROUP_CAPTION_CAP):
                    out_a.append(a)
                    out_b.append(b)
            yield pd.DataFrame({"a": out_a, "b": out_b,
                                "src": ["suffix"] * len(out_a)})

    ncap = F.lower(F.regexp_replace(F.trim(F.col("caption")), r"\s+", " "))
    docs = (images.select("phash", "image_id", "caption")
            .withColumn("ncap", ncap)
            .filter(F.length("ncap") > 0))
    eligible = (docs.groupBy("phash")
                .agg(F.count_distinct("ncap").alias("nc"))
                .filter(F.col("nc") >= 2)
                .select("phash"))
    packed = (docs.join(eligible, "phash")
              .groupBy("phash", "caption")
              .agg(F.min("image_id").alias("image_id"))
              .groupBy("phash")
              .agg(F.collect_list(F.struct("caption", "image_id"))
                   .alias("rows")))
    return (packed.select("rows")
            .mapInPandas(run, schema=PAIRS_SCHEMA)
            .dropDuplicates(["a", "b"]))
