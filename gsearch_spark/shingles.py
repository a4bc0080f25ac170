"""Shingle generation: caption k-grams + phash bit n-grams.

The analog of the reference's k-mer generation + canonical hashing
(gsearch ``src/dna/dnasketch.rs:164-169,499-518``): a sliding window over
the item's content, normalized, hashed to 64 bits.  Caption normalization
(lowercase + whitespace collapse) plays the role of canonical k-mer
normalization (min(kmer, revcomp)) — an orientation/case-invariant key.
"""

from __future__ import annotations

import re

import numpy as np

from gsearch_spark.hashing import kgram_hashes_batch

_WS = re.compile(r"\s+")


def normalize_caption(caption: str) -> str:
    """Case-fold + collapse whitespace; the 'canonical form' for equality
    and shingling, the one caption rule verify applies."""
    if caption is None:
        return ""
    return _WS.sub(" ", caption.strip().lower())


def caption_shingles_batch(captions: "list[str]", k: int, seed: int = 42
                           ) -> "tuple[np.ndarray, np.ndarray]":
    """Character k-gram hashes over normalized captions, one vectorized
    pass per Arrow batch.  Returns (hashes uint64, row_ids int64)."""
    normed = [normalize_caption(c).encode("utf-8") for c in captions]
    return kgram_hashes_batch(normed, k, seed=seed)
