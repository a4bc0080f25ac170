"""Pipeline configuration — the analog of the reference's ``parameters.json``.

The reference persists its sketch + index parameters next to the index and
*refuses* to add/query with a different config (gsearch
``src/utils/parameters.rs:178-218``, reload-on-add at
``src/bin/gsearch.rs:714-742``).  We keep the same discipline: the config is
hashed, persisted beside every checkpoint, and a resume with a different
config hash is an error (same shingle/signature config => reproducible
clusters, which the recall>=0.99 target depends on).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
from dataclasses import dataclass

# former fields, ignored when read from a stored parameters.json: three
# execution budgets, then three knobs no code read (the SimHash tile
# size, the caption rule and the SimHash width the code fixes)
RETIRED_FIELDS = ("pair_cap_per_bucket", "verify_broadcast_max_ids",
                  "add_lookup_max_literals", "pixel_block",
                  "caption_equality", "simhash_bits")
# execution fields: each only picks between plans with identical
# outputs, so it stays a field (and in parameters.json) but is left out
# of config_hash — retuning one keeps a build's identity
EXECUTION_FIELDS = ("shuffle_partitions", "verify_attach",
                    "cc_reliable_checkpoints", "add_cc_local_max_edges")


@dataclass(frozen=True)
class PipelineConfig:
    """All knobs that change signatures, candidates, or verification.

    Mirrors the reference's ``SeqSketcherParams`` + ``ProcessingParams``
    (gsearch ``src/utils/parameters.rs:139-147``): ``kmer_size`` ->
    ``caption_kgram``/``phash_shingle_bits``, ``sketch_size`` ->
    ``sketch_size``, ``algo`` -> ``algo``, and the HNSW build/search knobs
    (ef, nbng) -> the LSH (bands, rows_per_band, band_salts) trade-off.
    """

    seed: int = 42
    # signature/checkpoint-format version: bump whenever a hash function
    # OR a checkpoint schema changes so old checkpoints (whose stored
    # values/columns the new code can't reproduce) fail the
    # parameters.json hash check instead of silently mixing
    # (v3: exact_groups carries the content key ck for append-only add;
    #  v4: clusters checkpoint is hive-partitioned by pbucket =
    #  xxhash64(cluster_id) % cluster_buckets so incremental adds rewrite
    #  only touched partitions;
    #  v5: builds also persist key-addressed lookup layouts — ck_index
    #  partitioned by kb = xxhash64(ck) % key_buckets and id_index
    #  partitioned by ib = xxhash64(image_id) % key_buckets, both sorted
    #  by their key within files — so the add path's membership / label /
    #  id-clash probes partition- AND row-group-prune instead of scanning
    #  corpus-sized key columns)
    sig_version: int = 5
    # --- shingling (reference: k-mer generation, src/dna/dnasketch.rs:499-518)
    caption_kgram: int = 5           # caption character k-grams
    phash_shingle_bits: int = 16     # width of phash bit n-gram shingles
    # --- signature (reference: --algo optdens, src/dna/dnasketch.rs:600-620)
    sketch_size: int = 128           # minhash slots (reference -s, <=65535)
    # optdens | revoptdens | prob (weighted) | super | super2
    # (SuperMinHash f32-bits / rehashed-integer variants)
    algo: str = "optdens"
    # --- LSH banding (replaces HNSW ef/nbng quality-cost knobs)
    bands: int = 16
    rows_per_band: int = 8
    band_salts: int = 4              # max sub-buckets for hot bands
    hot_band_threshold: int = 64     # band sizes above this get salted
    hot_stats_sample_mod: int = 4    # hot detection over a 1/k id sample
    simhash_bands: int = 4           # simhash chunks; keys are chunk PAIRS
    # phash chunk-combo bands: C(chunks, combo) bands keyed on each
    # combo's concatenated chunks; pigeonhole guarantees exact Hamming <=
    # (chunks - combo) candidate coverage.  Default 4/2 (6 bands of 2x16
    # bits, Hamming<=2 exact) — the scale-tuned setting: 8/4 widens the
    # guarantee to Hamming<=4 (the codec's entire PSNR>=40 re-encode
    # envelope) but costs C(8,4)=70 bands and ~3x the candidate volume
    # (measured: flat band shuffle 41->? s, pairs 0.6M->2.0M at 200k
    # rows), which is the wrong default on the 10^12-row hot path where
    # probabilistic coverage above Hamming 2 suffices for recall>=0.99.
    # tests/test_suffix_array.py pins BOTH radii end-to-end.
    phash_chunks: int = 4
    phash_combo: int = 2
    prefilter_max_phash_hamming: int = 20  # metadata prefilter bound
    prefilter_max_phash_hamming_phash_src: int = 8  # phash-band-only pairs
    # --- verification (BASELINE.json input_hint invariant)
    psnr_min_db: float = 40.0
    # --- execution.  Driver budgets that only pick between equivalent
    # plans are module constants beside the rule that reads them (the
    # key-set probe's operators/keyidx.py INLIST_MAX / BROADCAST_KEYS_MAX,
    # the payload attach's operators/verify.py BROADCAST_MAX_IDS) or
    # fields named in EXECUTION_FIELDS; neither hashes into the build's
    # identity
    shuffle_partitions: int = 32
    # verify payload attach: "auto" broadcasts the candidate-id set when
    # the caller's algebraic distinct-id bound fits the broadcast budget
    # (verify.attach_strategy; no count job), else shuffles;
    # "broadcast"/"shuffle" force a strategy (at 10^12 rows the id set is
    # billions of keys — the shuffle-hash semi join is the scale path,
    # broadcast the fast path)
    verify_attach: str = "auto"
    # hot-bucket salting: bound the driver-collected hot list; buckets
    # beyond the cap stay unsalted (star policy still caps their pairs).
    # Hashed: it decides the stored bands' salt column
    max_hot_buckets: int = 100_000
    # CC lineage cuts: False = localCheckpoint (fast, executor-local);
    # True = per-iteration Parquet under the checkpoint dir (survives
    # executor loss on a real cluster)
    cc_reliable_checkpoints: bool = False
    # clusters checkpoint layout: hive partitions on pbucket =
    # xxhash64(cluster_id) % cluster_buckets.  The add path's clusters
    # commit rewrites ONLY partitions holding affected clusters (Iceberg
    # partition-level MERGE analog), so per-add clusters IO is
    # O(affected/cluster_buckets of the corpus), not O(corpus).  Size it
    # so one bucket ~ a few GB at the target scale (10^5+ at 10^12 rows)
    cluster_buckets: int = 64
    # driver budget of the mutation paths' CC (pipeline.cc_roots): a
    # graph of at most this many edges runs driver-local union-find —
    # per-iteration job latency of distributed CC dwarfs the work at
    # append sizes — and distributed star CC above it (a 1M-edge list
    # is ~100 MB on the driver; bulk-append jobs beyond that are closer
    # to rebuilds anyway).  The add tail has ONE gate on it: the whole
    # labels -> CC -> affected-set tail runs on the driver iff
    # 2 x |capped candidate pairs| + |new rows| <= this bound (the
    # endpoint prefetch's size; verified edges are a subset of the
    # capped pairs), and as DataFrame jobs otherwise
    add_cc_local_max_edges: int = 1_000_000
    # append-only add: per-new-item candidate cap applied AFTER the phash
    # prefilter (only plausible pairs compete for slots) — bounds the
    # verify decode cost of one appended viral duplicate at O(cap) instead
    # of O(existing copies); connectivity needs one surviving edge
    add_max_candidates_per_item: int = 256
    # key-lookup index layouts (sig_version 5): hive-partition fan-out of
    # ck_index / id_index.  The add path reads at most
    # min(|new keys|, key_buckets) partitions per probe, and within a
    # partition the key-sorted files row-group-prune under the pushed
    # IN-list, so per-probe IO is O(matched row groups).  Size so one
    # partition is a few GB at target scale (10^5+ at 10^12 rows; 64 is
    # the local-test setting).  The reference's add addresses its
    # persisted index O(1) by rank and never rescans it
    # (src/dna/dnasketch.rs:106-134) — this is the columnar analog.
    key_buckets: int = 64
    # checkpoint LAYOUT generation, bumped when the on-disk sidecar
    # schemas change (2 = id_index carries the founding-group rep_id
    # column + the edge_index connectivity sidecar exists, enabling
    # remove_images).  Participates in config_hash/parameters.json, so
    # resuming or appending to a checkpoint written by an older layout
    # refuses loudly instead of mis-reading it.
    layout_version: int = 2
    # request: per-(band,bucket) stored-member cap, xxhash64-ordered heads
    # (operators/request.py::probe_candidates).  DEFAULT ON: at 10^12 rows
    # a query landing in a viral bucket (10^6 stored copies of one meme)
    # would otherwise join every member; the cap makes per-probe cost
    # O(bands x cap) while ~27 independent band families keep a true
    # distance-0 duplicate reachable (P(miss) ~ (1 - cap/size)^bands per
    # oversized bucket; recall-neutrality on the fixture is pinned in
    # tests/test_request.py).  0 = exact (no cap).
    max_bucket_probe: int = 1024

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.sketch_size:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal sketch_size ({self.sketch_size})"
            )
        if self.algo not in ("optdens", "revoptdens", "prob",
                             "super", "super2"):
            raise ValueError(f"unknown algo {self.algo!r}")
        if self.caption_kgram < 1:
            raise ValueError("caption_kgram must be >= 1")
        if 64 % self.phash_chunks != 0 or not (
                1 <= self.phash_combo <= self.phash_chunks):
            raise ValueError("phash_chunks must divide 64 and "
                             "1 <= phash_combo <= phash_chunks")
        # combo band ids live in [PHASH_BAND_OFFSET, CAPTION_BAND_OFFSET)
        # = [2000, 3000) (operators/candidates.py); more combos than that
        # window would silently collide with the caption band id space and
        # mis-tag band_src, so refuse up front
        if math.comb(self.phash_chunks, self.phash_combo) >= 1000:
            raise ValueError(
                f"C(phash_chunks={self.phash_chunks}, "
                f"phash_combo={self.phash_combo}) = "
                f"{math.comb(self.phash_chunks, self.phash_combo)} combo "
                "bands >= 1000 would overflow the phash band-id window "
                "[2000, 3000) into the caption band ids")
        if self.verify_attach not in ("auto", "broadcast", "shuffle"):
            raise ValueError(f"unknown verify_attach {self.verify_attach!r}")
        if self.cluster_buckets < 1:
            raise ValueError("cluster_buckets must be >= 1")
        if self.key_buckets < 1:
            raise ValueError("key_buckets must be >= 1")
        if self.max_bucket_probe < 0:
            raise ValueError("max_bucket_probe must be >= 0 (0 = exact)")

    # -- persistence (parameters.json discipline) --------------------------

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True, indent=2)

    @classmethod
    def from_json(cls, text: str) -> "PipelineConfig":
        d = json.loads(text)
        # fields that left the config: a parameters.json written while
        # they were fields names them; dropping them keeps that build's
        # identity equal to today's config
        for key in RETIRED_FIELDS:
            d.pop(key, None)
        # parameters.json written before the layout_version field existed
        # describes a layout-1 checkpoint — do NOT let the dataclass
        # default claim otherwise, so the hash discipline refuses it
        d.setdefault("layout_version", 1)
        return cls(**d)

    def config_hash(self) -> str:
        """Stable hash over every field that decides a build's outputs
        (all but :data:`EXECUTION_FIELDS`)."""
        fields = {k: v for k, v in dataclasses.asdict(self).items()
                  if k not in EXECUTION_FIELDS}
        return hashlib.sha256(
            json.dumps(fields, sort_keys=True).encode()).hexdigest()[:16]

    def _assert_same(self, stored: "PipelineConfig") -> None:
        if stored.config_hash() != self.config_hash():
            raise ValueError(
                "checkpoint was produced with a different pipeline config: "
                f"stored={stored.config_hash()} current={self.config_hash()}; "
                "refusing to resume (reference parameters.json discipline)"
            )

    # -- FS-routed variants (checkpoint roots on hdfs:// / s3a:// / file:/)

    def dump_via(self, fs, checkpoint_dir: str) -> str:
        fs.mkdirs(checkpoint_dir)
        path = f"{checkpoint_dir}/parameters.json"
        fs.write_text(path, self.to_json())
        return path

    @classmethod
    def reload_via(cls, fs, checkpoint_dir: str) -> "PipelineConfig":
        return cls.from_json(fs.read_text(f"{checkpoint_dir}/parameters.json"))

    def assert_matches_via(self, fs, checkpoint_dir: str) -> None:
        self._assert_same(PipelineConfig.reload_via(fs, checkpoint_dir))
