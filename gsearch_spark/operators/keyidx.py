"""Key-addressed lookup layouts for the append-only add path.

The reference's ``add`` subcommand reloads a persisted index that is
O(1)-addressable by rank and NEVER rescans it when inserting new items
(gsearch ``src/dna/dnasketch.rs:106-134``).  Through round 4 our add
path was compute-O(new) but still performed two keys-only scans of the
WHOLE stored corpus per append (the ck-membership probe and the
endpoint-label lookup) — at 10^12 rows that is tens of TB of metadata
read per daily append.  This module is the columnar analog of the
reference's addressable index: two small sidecar tables written beside
the build whose LAYOUT makes point lookups prune to O(probed keys) IO.

``ck_index``  (ck string, rep_id string)
    One row per exact-content group, hive-partitioned on
    ``kb = xxhash64(ck) % key_buckets`` and sorted by ``ck`` within
    files.  Append-only: a group's representative never changes (rank
    continuation), so adds only ever insert rows for brand-new content
    keys.

``id_index``  (image_id string, cluster_id string, is_rep boolean,
               rep_id string, gen int)
    One row per (image, generation), hive-partitioned on
    ``ib = xxhash64(image_id) % key_buckets`` and sorted by
    ``image_id`` within files.  Cluster labels change when components
    merge, so the table is LSM-style append-only with latest-``gen``
    wins (the Iceberg merge-on-read analog): each add appends one row
    per re-labelled / new member at ``gen = <add number>``; lookups
    resolve ``max_by(cluster_id, gen)``.  ``is_rep`` is immutable and
    set only on a row's first appearance, so it resolves as
    ``bool_or`` across generations.  ``rep_id`` is the image's FOUNDING
    exact-group node (the group's first representative — the stable
    node name of the dedup graph, immutable even if that image is later
    tombstoned by ``remove_images``): written on first appearance, null
    on relabel rows, resolved as ``max()`` (SQL aggregates skip nulls).
    :func:`compact_id_index` rewrites the table down to one row per
    image (run it offline when the stale fraction grows; at 10^12 scale
    this is the routine Iceberg rewrite-data-files maintenance job).

Every key-set probe in the package — these lookups, the add's touched
phash slice, the CLI's and the stream's payload-table membership checks
— is one rule, :func:`probe_keys`: ONE collect of the distinct probe
keys (capped at ``BROADCAST_KEYS_MAX + 1``) resolves both the keys and,
on a hive-partitioned table, their bucket set (at most ``min(|keys|,
buckets)`` values), applied as a partition filter.  Up to
``INLIST_MAX`` keys then ship as an IN-list so parquet row-group stats
on the key-sorted files prune inside each partition; up to
``BROADCAST_KEYS_MAX`` they join as a broadcast local-relation semi
join; past it the probe joins the keys themselves — still
partition-pruned, never a full-table scan of a partitioned table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.session import local_frame

CK_INDEX = "ck_index"
ID_INDEX = "id_index"
EDGE_INDEX = "edge_index"
# declared layouts, read back without schema inference; an edge-free
# build writes a LEGAL empty edge_index (only _SUCCESS), which inference
# could not read at all
CK_SCHEMA = "ck string, rep_id string, kb int"
ID_SCHEMA = ("image_id string, cluster_id string, is_rep boolean, "
             "rep_id string, gen int, ib int")
EDGE_SCHEMA = "a string, b string, eb int"


def read_edge_index(spark: SparkSession, path: str) -> DataFrame:
    """Read the edge sidecar with its declared schema (an edge-free
    build's table is empty — inference would fail)."""
    return spark.read.schema(EDGE_SCHEMA).parquet(path)

# The two bounds of probe_keys, execution strategy only (never
# signature-affecting), hence constants and not PipelineConfig fields.
# Up to INLIST_MAX probe keys ship as an IN-list: parquet's in-filter
# pushdown (spark.sql.parquet.pushdown.inFilterThreshold) evaluates each
# literal against row-group stats on the key-sorted files — a true
# point lookup (the streaming / single-image add case).  Past it the
# pushdown silently degrades to a min/max RANGE filter, which on
# arbitrary probe keys covers every row group — all the IN-list then
# buys is a per-row O(|keys|)-ish predicate that measured 1.85 s vs
# 0.47 s for a broadcast left-semi join against the same 2,196-key probe
# at 213k stored rows.  So up to BROADCAST_KEYS_MAX keys join as a
# LocalRelation built from the already-collected keys, explicitly
# broadcast — same partition pruning, no literal-evaluation tax.  Past
# it the keys stay distributed: the probe semi-joins the key DataFrame
# instead of collecting it to the driver.
INLIST_MAX = 32
BROADCAST_KEYS_MAX = 10_000


def key_bucket(col: str, buckets: int) -> "F.Column":
    """The one bucket expression of every hive-partitioned layout
    (``kb``/``ib``/``eb`` here, ``tb`` of the tombstones, ``pbucket`` of
    the clusters checkpoint): ``xxhash64(col) % buckets``, evaluated by
    Spark so writers, pruned readers and the mutation paths' bucket
    collects can never disagree."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


# --------------------------------------------------------------- writers
# ``tap`` (optional) wraps the frame exactly as it is written — after
# the repartition — so a caller can observe its row count on the write
# itself (pipeline.row_counter).

def write_keyed(df: DataFrame, key_col: str, part_col: str, path: str,
                cfg: PipelineConfig, tap=None) -> None:
    """The one writer of every key-addressed layout: hive-partitioned on
    ``part_col = key_bucket(key_col)``, repartitioned ON the partition
    column first (each bucket = one task writing one file, not tasks x
    buckets small files), then sorted by the key within the partition so
    every file's row groups carry tight key min/max stats for the
    IN-list probes."""
    out = (df.withColumn(part_col, key_bucket(key_col, cfg.key_buckets))
           .repartition(cfg.key_buckets, F.col(part_col))
           .sortWithinPartitions(key_col))
    ((tap or (lambda d: d))(out)
     .write.mode("overwrite").partitionBy(part_col).parquet(path))


def write_ck_index(groups: DataFrame, path: str, cfg: PipelineConfig,
                   tap=None) -> None:
    """One (ck, rep_id) row per exact-content group of ``groups`` — the
    full build's table, or an add's delta of fresh groups (the commit
    renames each staged ``kb=`` dir's files into the live table; parquet
    part names embed a UUID, so they never collide)."""
    write_keyed(groups.filter(F.col("image_id") == F.col("rep_id"))
                .select("ck", "rep_id"), "ck", "kb", path, cfg, tap)


def write_id_index(clusters: DataFrame, groups: DataFrame, path: str,
                   cfg: PipelineConfig, tap=None) -> None:
    """Full build: one (image_id, cluster_id, is_rep, rep_id, gen=0)
    row per image.  ``clusters`` is the expanded (image_id, cluster_id)
    table; rep-ness and the founding group node join in from the exact
    groups."""
    flags = groups.select("image_id",
                          (F.col("image_id") == F.col("rep_id"))
                          .alias("is_rep"), "rep_id")
    write_keyed(clusters.select("image_id", "cluster_id")
                .join(flags, "image_id").withColumn("gen", F.lit(0)),
                "image_id", "ib", path, cfg, tap)


def stage_id_append(delta: DataFrame, gen: int, staging_dir: str,
                    cfg: PipelineConfig, tap=None) -> None:
    """Stage a mutation's (image_id, cluster_id, is_rep, rep_id) delta
    rows at generation ``gen`` (strictly increasing per mutation,
    carried in the commit manifest so a torn commit can roll forward
    idempotently).  ``rep_id`` must be null on relabel rows (founding
    group nodes are first-appearance-immutable)."""
    write_keyed(delta.select("image_id", "cluster_id", "is_rep", "rep_id")
                .withColumn("gen", F.lit(gen)), "image_id", "ib",
                f"{staging_dir}/{ID_INDEX}", cfg, tap)


def write_edge_index(edges: DataFrame, path: str, cfg: PipelineConfig,
                     tap=None) -> None:
    """The dedup graph's edge list keyed by FOUNDING group nodes — (a,
    b) with a < b, hive-partitioned on ``eb = xxhash64(a) % key_buckets``
    and sorted by ``a`` within files.  At build time every verified-edge
    endpoint is its own group's founding rep, so the checkpoint edges
    pass through untranslated; an add stages its new edges (already
    translated to founding-node endpoints, self-loops dropped) the same
    way.

    This sidecar exists for :func:`~gsearch_spark.operators.remove.\
remove_images`: a delete that kills an entire exact-group can SPLIT a
    cluster, and recomputing the affected components needs the edges
    among the affected clusters' group nodes — with this layout that
    read partition-prunes to the affected nodes' buckets (every
    intra-cluster edge has BOTH endpoints in the affected set, so
    pruning on ``a`` alone is lossless).  The reports/oracle surface
    keeps reading the flat ``verified_edges`` checkpoint; this is a
    connectivity-only (a, b) projection."""
    write_keyed(edges.select("a", "b"), "a", "eb", path, cfg, tap)


def lookup_edges_among(spark: SparkSession, path: str, nodes: DataFrame,
                       cfg: PipelineConfig,
                       idx_df: "DataFrame | None" = None) -> DataFrame:
    """(a, b) edges with BOTH endpoints in ``nodes`` (a single-column
    DataFrame named ``a`` of founding group ids).  Partition-prunes on
    the nodes' bucket set via the shared point-lookup plan, then keeps
    only edges whose far endpoint is also in the set (broadcast semi on
    the same already-small node list)."""
    if idx_df is None:
        idx_df = read_edge_index(spark, path)  # inference-safe when empty
    hits = probe_keys(idx_df, "a", nodes, "eb", cfg.key_buckets)
    far = nodes.select(F.col("a").alias("b")).distinct()
    return (hits.join(F.broadcast(far), "b", "left_semi")
            .select("a", "b"))


# --------------------------------------------------------------- lookups
# ``idx_df`` lets a caller issuing several lookups against the same
# table reuse one file-index listing (each fresh ``spark.read.parquet``
# over the partition dirs costs ~2 s of driver-side listing at 64
# buckets).

def probe_keys(table: DataFrame, key_col: str, keys: DataFrame,
               part_col: "str | None" = None, buckets: int = 0
               ) -> DataFrame:
    """Rows of ``table`` whose ``key_col`` value appears in the
    same-named column of ``keys`` — the package's one key-set probe
    (module docstring).  ``part_col``/``buckets`` name a
    hive partition column holding ``key_bucket(key_col, buckets)``;
    the probe then partition-filters on the keys' bucket set.  ONE
    collect resolves the keys and their buckets (the bucket is a pure
    function of the key); only a partitioned probe past
    ``BROADCAST_KEYS_MAX`` pays a second, buckets-only collect."""
    kb = key_bucket(key_col, buckets) if part_col else F.lit(0)
    pairs = (keys.select(F.col(key_col).alias("k"), kb.alias("pb"))
             .distinct().limit(BROADCAST_KEYS_MAX + 1).collect())
    if len(pairs) > BROADCAST_KEYS_MAX:
        if part_col:
            table = table.filter(F.col(part_col).isin(sorted(
                r[0] for r in keys.select(kb).distinct().collect())))
        return table.join(keys.select(key_col).distinct(), key_col,
                          "left_semi")
    if part_col:
        table = table.filter(
            F.col(part_col).isin(sorted({p["pb"] for p in pairs})))
    if len(pairs) <= INLIST_MAX:
        return table.filter(F.col(key_col).isin([p["k"] for p in pairs]))
    probe = local_frame(keys.sparkSession, [(p["k"],) for p in pairs],
                        keys.select(key_col).schema)
    return table.join(F.broadcast(probe), key_col, "left_semi")


def lookup_ck_index(spark: SparkSession, path: str, cks: DataFrame,
                    cfg: PipelineConfig,
                    idx_df: "DataFrame | None" = None) -> DataFrame:
    """(ck, rep_id) for exactly the probed cks present in the build."""
    idx = idx_df if idx_df is not None else \
        spark.read.schema(CK_SCHEMA).parquet(path)
    return (probe_keys(idx, "ck", cks, "kb", cfg.key_buckets)
            .select("ck", "rep_id"))


def lookup_id_index(spark: SparkSession, path: str, ids: DataFrame,
                    cfg: PipelineConfig,
                    idx_df: "DataFrame | None" = None) -> DataFrame:
    """(image_id, cluster_id, is_rep, rep_id) — latest generation wins
    (rep_id: the single non-null first-appearance value, via null-
    skipping max) — for exactly the probed ids present in the build."""
    idx = idx_df if idx_df is not None else \
        spark.read.schema(ID_SCHEMA).parquet(path)
    return (probe_keys(idx, "image_id", ids, "ib", cfg.key_buckets)
            .groupBy("image_id")
            .agg(F.max_by("cluster_id", "gen").alias("cluster_id"),
                 F.bool_or("is_rep").alias("is_rep"),
                 F.max("rep_id").alias("rep_id")))


# ----------------------------------------------------------- maintenance

def compact_id_index(spark: SparkSession, path: str,
                     cfg: PipelineConfig) -> None:
    """Rewrite id_index down to one latest row per image (offline
    maintenance; the Iceberg rewrite-data-files analog).  Keeps each
    image's max gen so subsequent adds (whose gens come from the
    monotonically increasing commit counter) still win lookups.

    A mutation like any other (operators/pipeline.py skeleton): it runs
    under the build's writer lock — a compaction racing an add could
    drop the add's freshly appended generation rows — and
    ``mutation_prologue``, stages the compacted table and commits it
    through one manifest (``write_manifest`` + ``finish_commit``), so a
    crash after the manifest rolls forward and the live table is never
    deleted before its replacement is staged."""
    from gsearch_spark.operators.pipeline import (NearDupPipeline,
                                                  _writer_locked,
                                                  finish_commit,
                                                  mutation_prologue,
                                                  write_manifest)
    checkpoint_dir, name = path.rsplit("/", 1)

    @_writer_locked
    def compact(spark, cfg, checkpoint_dir):
        pipe = NearDupPipeline(spark, cfg, checkpoint_dir)
        staging, gen = mutation_prologue(pipe, (name,))
        compacted = (spark.read.schema(ID_SCHEMA).parquet(path)
                     .groupBy("image_id")
                     .agg(F.max_by("cluster_id", "gen").alias("cluster_id"),
                          F.bool_or("is_rep").alias("is_rep"),
                          F.max("rep_id").alias("rep_id"),
                          F.max("gen").alias("gen")))
        write_keyed(compacted, "image_id", "ib", f"{staging}/{name}", cfg)
        # the generation counter stays: compacted rows keep their gens
        finish_commit(spark, pipe.fs, checkpoint_dir, write_manifest(
            pipe, staging, gen - 1, {name: True}, [], []))

    compact(spark, cfg, checkpoint_dir)
