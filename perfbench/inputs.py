"""Seeded inputs, made with the package's own fixture generator
(FIXTURES.md bench profile: 10% skew bombs) and its truth tables.

Every choice below comes from ``--seed``: the same seed gives the same
corpus, probes, added rows and removed ids.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SKEW_FRACTION = 0.10
BUILD_N_BASE = 2000          # 2,660 images
MUTATE_N_BASE = 2000
# the mutate workload's stored build is built once per checkout and
# code version, and shared by every seed (README: "State kept across
# runs")
MUTATE_CORPUS_SEED = 7
POOL_N_BASE = 256            # unseen-probe and fresh-add pools

# Op sizes are the smallest of the engine's sizing runs on a 4-core
# host (README: "Op sizes"): a 420-probe request, a 230-row add and a
# 111-id remove.
PLANTED, UNSEEN, SKEWED = 180, 180, 60         # probes per request
PLANTED_REMOVED = 36        # planted probes copying removed ids, mutate
ADD_NEW_CAPTION, ADD_IDENTICAL, ADD_FRESH = 80, 75, 75
REMOVE_MEMBERS, REMOVE_ADDED = 75, 36

KIND_BASE, KIND_EXACT, KIND_SKEW = 0, 1, 6
IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
PROBE_COLS = ["image_id", "bytes", "caption", "phash"]


@dataclass
class Corpus:
    dir: str
    images: pd.DataFrame
    kind: np.ndarray              # generator row kind, by ordinal
    truth_pairs: "list[tuple[str, str]]"
    truth_negatives: "list[tuple[str, str]]"

    @property
    def images_path(self) -> str:
        return os.path.join(self.dir, "images.parquet")


def make_corpus(out_dir: str, n_base: int, seed: int) -> Corpus:
    from gsearch_spark.generator import write_fixture_local
    write_fixture_local(out_dir, n_base=n_base, seed=seed,
                        skew_fraction=SKEW_FRACTION)
    return load_corpus(out_dir, n_base, seed)


def load_corpus(out_dir: str, n_base: int, seed: int) -> Corpus:
    from gsearch_spark.generator import make_plan
    images = pq.read_table(os.path.join(out_dir, "images.parquet")) \
        .to_pandas()
    pairs = pq.read_table(os.path.join(out_dir, "truth_pairs.parquet"))
    negs = pq.read_table(os.path.join(out_dir, "truth_negatives.parquet"))
    return Corpus(
        dir=out_dir, images=images,
        kind=make_plan(n_base, seed, SKEW_FRACTION).kind,
        truth_pairs=list(zip(pairs.column("a").to_pylist(),
                             pairs.column("b").to_pylist())),
        truth_negatives=list(zip(negs.column("a").to_pylist(),
                                 negs.column("b").to_pylist())))


def _renamed(rows: pd.DataFrame, ids: "list[str]") -> pd.DataFrame:
    out = rows.copy()
    out["image_id"] = ids
    return out.reset_index(drop=True)


class Draws:
    """The seeded probe, add and remove streams of one run.

    Planted-probe sources are base rows; removal targets are duplicate
    members plus base rows that have an exact copy (so a removal can
    promote a survivor).  The two pools are disjoint, so a planted
    probe's source is never removed in the same run."""

    def __init__(self, corpus: Corpus, seed: int, pool_dir: str):
        self.c = corpus
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0xBE7C])
        unseen = make_corpus(os.path.join(pool_dir, "unseen"),
                             POOL_N_BASE, 100_003 + seed)
        fresh = make_corpus(os.path.join(pool_dir, "fresh"),
                            POOL_N_BASE, 200_003 + seed)
        self.unseen = unseen.images[unseen.kind == KIND_BASE]
        self.fresh = fresh.images[fresh.kind == KIND_BASE]
        by_id = {r: i for i, r in enumerate(corpus.images["image_id"])}
        self.pos = by_id
        kind = corpus.kind
        exact_src = {a for (a, b) in corpus.truth_pairs
                     if kind[by_id[b]] == KIND_EXACT}
        members = [b for (a, b) in corpus.truth_pairs
                   if kind[by_id[b]] != KIND_SKEW]
        removable = sorted(set(members) | exact_src)
        self.removal_pool = list(self.rng.permutation(removable))
        self.planted_pool = [i for i in corpus.images["image_id"]
                             if kind[by_id[i]] == KIND_BASE
                             and i not in exact_src]
        self.skew_ids = [i for i in corpus.images["image_id"]
                         if kind[by_id[i]] == KIND_SKEW]
        self.removed: "list[str]" = []
        self.removed_members: "list[str]" = []

    def _rows(self, ids: "list[str]") -> pd.DataFrame:
        return self.c.images.iloc[[self.pos[i] for i in ids]]

    def probes(self, tag: str, from_removed: int = 0
               ) -> "tuple[pd.DataFrame, dict[str, str]]":
        """One request's probe batch: renamed planted duplicates, unseen
        images of another generator seed, and a fixed share of skew-bomb
        copies.  Returns the batch and {probe id: source id} for the
        planted probes (``from_removed`` of them copy removed ids)."""
        n_live = PLANTED - from_removed
        live = list(self.rng.choice(self.planted_pool, n_live,
                                    replace=False))
        dead = list(self.rng.choice(self.removed_members, from_removed,
                                    replace=False)) if from_removed else []
        srcs = live + dead
        planted = _renamed(self._rows(srcs),
                           [f"q{tag}_p{i}" for i in range(len(srcs))])
        un = self.unseen.iloc[self.rng.choice(len(self.unseen), UNSEEN,
                                              replace=False)]
        un = _renamed(un, [f"q{tag}_u{i}" for i in range(UNSEEN)])
        sk = _renamed(self._rows(list(self.rng.choice(self.skew_ids, SKEWED,
                                                      replace=False))),
                      [f"q{tag}_s{i}" for i in range(SKEWED)])
        batch = pd.concat([planted, un, sk], ignore_index=True)[PROBE_COLS]
        return batch, dict(zip(planted["image_id"], srcs))

    def add_batch(self, cycle: int
                  ) -> "tuple[pd.DataFrame, dict[str, str]]":
        """New-caption copies (full add path), byte-identical copies (join
        existing exact groups) and fresh images.  Returns the rows and
        {added id: source id} for the byte-identical copies."""
        tag = f"a{self.seed}c{cycle}"
        srcs = list(self.rng.choice(self.planted_pool,
                                    ADD_NEW_CAPTION + ADD_IDENTICAL,
                                    replace=False))
        recap = self._rows(srcs[:ADD_NEW_CAPTION]).copy()
        recap["caption"] = recap["caption"] + f" appended {tag}"
        recap = _renamed(recap, [f"{tag}_n{i}"
                                 for i in range(ADD_NEW_CAPTION)])
        ident = _renamed(self._rows(srcs[ADD_NEW_CAPTION:]),
                         [f"{tag}_i{i}" for i in range(ADD_IDENTICAL)])
        start = (cycle * ADD_FRESH) % max(1, len(self.fresh) - ADD_FRESH)
        fresh = _renamed(self.fresh.iloc[start:start + ADD_FRESH],
                         [f"{tag}_f{i}" for i in range(ADD_FRESH)])
        rows = pd.concat([recap, ident, fresh], ignore_index=True)
        return rows[IMAGE_COLS], dict(zip(ident["image_id"],
                                          srcs[ADD_NEW_CAPTION:]))

    def remove_batch(self, added_ids: "list[str]") -> "list[str]":
        """Cluster members of the stored corpus plus ids the preceding
        add inserted."""
        members = self.removal_pool[:REMOVE_MEMBERS]
        del self.removal_pool[:REMOVE_MEMBERS]
        added = list(self.rng.choice(added_ids, REMOVE_ADDED,
                                     replace=False))
        self.removed_members.extend(str(i) for i in members)
        ids = [str(i) for i in members + added]
        self.removed.extend(ids)
        return ids
