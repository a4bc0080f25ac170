"""End-to-end pipeline with per-stage checkpoints, lineage and resume.

The checkpoint/resume discipline mirrors the reference exactly
(SURVEY §2.1 S6/S7): every stage writes a Parquet checkpoint (analog of
``dumpall``, gsearch ``src/utils/dumpload.rs:15-62``); the pipeline
config is persisted as ``parameters.json`` beside the checkpoints and a
resume with a different config hash REFUSES to run (gsearch
``src/bin/gsearch.rs:714-742``); per-stage/per-partition row counts and
timings land in a ``pipeline_state`` table (analog of
``processing_state.json``, ``src/utils/files.rs:52-110``) including the
reference's sent==received reconciliation invariant
(``src/dna/dnasketch.rs:458-464``).

Stages:  images -> signatures -> bands -> candidate_pairs
                -> verified_edges -> clusters
Resume = skip any stage whose checkpoint already exists under a matching
config hash; kill the job at any boundary and rerun — outputs are
byte-identical (deterministic signatures + min-based CC).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.fs import CheckpointFS
from gsearch_spark.operators.banding import BANDS_SCHEMA, build_bands
from gsearch_spark.operators.candidates import (PAIRS_SCHEMA, bucket_stats,
                                                emit_bucket_pairs)
from gsearch_spark.operators.cc import connected_components, union_find
from gsearch_spark.operators.exact import (EXACT_GROUPS_SCHEMA, exact_groups,
                                           expand_clusters, representatives)
from gsearch_spark.operators.keyidx import (CK_SCHEMA, EDGE_SCHEMA,
                                            ID_SCHEMA, key_bucket)
from gsearch_spark.operators.signatures import (SIGNATURES_SCHEMA,
                                                compute_signatures)
from gsearch_spark.operators.suffix import suffix_candidate_pairs
from gsearch_spark.operators.verify import verified_edges
from gsearch_spark.session import local_frame

STAGES = ("exact_groups", "signatures", "bands", "candidate_pairs",
          "verified_edges", "clusters", "ck_index", "id_index")
# the declared schema of every table the engine writes under a build or
# its staging dir: read back without footer inference (and readable when
# a mutation staged no rows at all)
LAYOUTS = {
    "exact_groups": EXACT_GROUPS_SCHEMA,
    "signatures": SIGNATURES_SCHEMA,
    "bands": BANDS_SCHEMA,
    "candidate_pairs": PAIRS_SCHEMA,
    "verified_edges": ("a string, b string, src string, psnr double, "
                       "caption_eq boolean"),
    "clusters": "image_id string, cluster_id string, pbucket int",
    "ck_index": CK_SCHEMA,
    "id_index": ID_SCHEMA,
    "edge_index": EDGE_SCHEMA,
}

ADD_MANIFEST = "_add_commit_manifest.json"
# current id_index generation (monotone add counter); bumped inside the
# manifest-protected commit so torn commits roll the counter forward too
ID_GEN_FILE = "_id_index_gen"
# single-writer mutation lock (append-only add / streaming append /
# remove / purge / id_index compaction).  The manifest commit protocol
# is single-writer by design — two interleaved adds could stage
# conflicting cluster partition swaps — so concurrent writers must be
# REFUSED, not raced.
# The reference has the same property implicitly (one process owns the
# memory-mapped HNSW during add, src/bin/gsearch.rs:488-505).
ADD_LOCK = "_add_lock"


class ConcurrentAddError(RuntimeError):
    """Another writer holds the build's mutation lock."""


@contextmanager
def chains():
    """Scope for independent Spark job chains overlapped on driver
    threads (guide §2.6, overlap independent jobs): the mutation paths
    are long sequences of SMALL jobs whose per-job latency — not data
    volume — dominates at append/remove sizes, so independent chains
    back-fill each other's task tails instead of serializing.

    Yields ``spawn(thunk)``, which starts ``thunk`` on its own thread
    and returns its Future.  One thread per chain, never a bounded
    pool: a chain may block on another chain's future (the add's
    endpoint prefetch waits on its matched-reps collect).  Threads use
    pyspark's inheritable_thread_target, so a chain runs under the
    caller's job group and description and its jobs count with the
    call that started it.  Like the reference's rayon scope
    (src/dna/dnasketch.rs:183) the scope cannot be left while a chain
    runs: on exit — normal or by an exception — it joins every chain
    (it never cancels one), then re-raises the body's error, else the
    first failed chain's error in spawn order."""
    from concurrent.futures import Future
    from pyspark import inheritable_thread_target
    started: "list[tuple[threading.Thread, Future]]" = []

    def spawn(thunk) -> Future:
        session = SparkSession.getActiveSession()
        wrap = (inheritable_thread_target(session) if session is not None
                else inheritable_thread_target)
        fut = Future()

        def target():
            try:
                fut.set_result(thunk())
            except BaseException as exc:  # delivered by fut.result()
                fut.set_exception(exc)

        thread = threading.Thread(target=wrap(target))
        thread.start()
        started.append((thread, fut))
        return fut

    try:
        yield spawn
    finally:
        for thread, _ in started:
            thread.join()
    for _, fut in started:
        fut.result()


def read_layout(spark: SparkSession, root: str, name: str) -> DataFrame:
    """The table ``root/name`` read with its declared layout."""
    return spark.read.schema(LAYOUTS[name]).parquet(f"{root}/{name}")


def row_counter() -> tuple[Callable[[DataFrame], DataFrame],
                           Callable[[], int]]:
    """The one row counter of every recorded stage: ``tap(df)`` returns
    ``df`` under a one-use Observation of its row count, and ``rows()``
    reads that count.  Tap the frame exactly as its materializing action
    sees it — the writer's input after any repartition, or the frame an
    eager localCheckpoint cuts — so the count rides on that action and
    costs no job of its own.  ``rows()`` must follow the action: an
    Observation reports the FIRST action over its frame and blocks until
    one has finished.  A plan the optimizer prunes to empty reports 0."""
    from pyspark.sql import Observation
    obs = Observation()
    return (lambda df: df.observe(obs, F.count(F.lit(1)).alias("rows")),
            lambda: int(obs.get["rows"]))


def checkpoint_rows(df: DataFrame) -> "tuple[DataFrame, int]":
    """Eager localCheckpoint of ``df`` and its row count, observed on
    the checkpoint job itself."""
    tap, rows = row_counter()
    df = tap(df).localCheckpoint()
    return df, rows()


def _fanout(fn, items, workers: int = 16):
    """Apply ``fn`` to every item on a bounded thread pool and wait.
    Pure driver-side FS-metadata fan-out (no Spark jobs): the add/remove
    commit's per-partition-dir rename loops are hundreds of sequential
    py4j round trips at 1-3 ms each — independent of one another, so
    latency, not work, is the cost.  The first exception is re-raised."""
    items = list(items)
    if len(items) <= 1:
        for it in items:
            fn(it)
        return
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(workers, len(items))) as pool:
        futs = [pool.submit(fn, it) for it in items]
        for f in futs:
            f.result()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def acquire_add_lock(fs: "CheckpointFS", checkpoint_dir: str) -> bool:
    """Take the build's single-writer mutation lock.

    Returns True when THIS call took ownership (the caller must release)
    and False when the current process already holds it (re-entrant:
    ``add_writer_lock`` around a payload-append + ``incremental_add``
    sequence, with the inner add a no-op acquire).  A lock whose
    recorded pid is dead on this host is crash residue and self-heals;
    a live holder (or one on another host, where liveness can't be
    probed) raises :class:`ConcurrentAddError` — break a known-stale
    cross-host lock explicitly with ``python -m gsearch_spark unlock``.
    """
    import socket
    path = f"{checkpoint_dir}/{ADD_LOCK}"
    me = {"pid": os.getpid(), "host": socket.gethostname(),
          "ts": time.time()}
    for attempt in (0, 1):
        if fs.create_atomic(path, json.dumps(me)):
            return True
        try:
            held = json.loads(fs.read_text(path))
        except Exception:
            held = {}
        same_host = held.get("host") == me["host"]
        if same_host and held.get("pid") == me["pid"]:
            return False  # re-entrant: we already own it
        if (attempt == 0 and same_host and held.get("pid")
                and not _pid_alive(held["pid"])):
            fs.delete(path)  # dead writer on this host: self-heal
            continue
        raise ConcurrentAddError(
            f"build is locked by another writer (pid {held.get('pid')} "
            f"on {held.get('host')}, since ts={held.get('ts')}); if that "
            "writer is known dead, run `python -m gsearch_spark unlock "
            f"-b {checkpoint_dir}`")
    raise ConcurrentAddError(f"could not acquire {path}")  # pragma: no cover


def release_add_lock(fs: "CheckpointFS", checkpoint_dir: str) -> None:
    fs.delete(f"{checkpoint_dir}/{ADD_LOCK}")


@contextmanager
def add_writer_lock(spark: SparkSession, checkpoint_dir: str):
    """Hold the build's single-writer mutation lock for a multi-step
    mutation (payload append + add, per-microbatch streaming append,
    compaction).  Re-entrant within one process; released only by the
    outermost holder."""
    fs = CheckpointFS(spark, checkpoint_dir)
    owner = acquire_add_lock(fs, checkpoint_dir)
    try:
        yield
    finally:
        if owner:
            release_add_lock(fs, checkpoint_dir)


def cluster_pbucket(cfg: PipelineConfig,
                    col: str = "cluster_id") -> "F.Column":
    """Hive-partition key of the clusters checkpoint: which partition a
    cluster's rows live in (``col`` names the column holding the
    cluster label).  Pure function of the label so an incremental add
    can prune reads AND rewrites to touched partitions (the Iceberg
    bucket-transform analog for the output table)."""
    return key_bucket(col, cfg.cluster_buckets)


def cc_roots(edges: DataFrame, n_edges: int, cfg: PipelineConfig,
             checkpoint_dir: "str | None" = None) -> DataFrame:
    """Connected components of ``edges(a, b)``: one (image_id,
    cluster_id = min member) row per node on an edge.  The one CC gate
    of the build, the add's distributed tail and the remove: up to
    ``cfg.add_cc_local_max_edges`` edges (a count the caller already
    holds from a stage record — no extra job) the O(log^2 n)
    distributed star rounds are pure per-job latency, so driver
    union-find computes the identical min-member labels and returns
    them as a broadcast-hinted local relation.  Past the bound, or when
    ``checkpoint_dir`` asks for reliable per-iteration checkpoints
    (surviving executor loss is their point), the distributed star CC
    runs."""
    if checkpoint_dir is None and n_edges <= cfg.add_cc_local_max_edges:
        mapping = union_find([(r["a"], r["b"]) for r in
                              edges.select("a", "b").collect()])
        return F.broadcast(local_frame(
            edges.sparkSession, sorted(mapping.items()),
            "image_id string, cluster_id string"))
    return connected_components(edges, checkpoint_dir=checkpoint_dir)


@dataclass
class StageRecord:
    stage: str
    rows_out: int
    seconds: float
    skipped: bool
    rows_in: int = -1
    t_start: float = 0.0
    t_end: float = 0.0


class NearDupPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig,
                 checkpoint_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.dir = checkpoint_dir
        # all checkpoint metadata IO goes through the Hadoop FS of the
        # checkpoint root, so file:/, hdfs:// and s3a:// behave the same
        self.fs = CheckpointFS(spark, checkpoint_dir)
        self.records: "list[StageRecord]" = []
        # buffered pipeline_state rows: one parquet append per pipeline/
        # add invocation (flushed at the end), not one write job per
        # stage — 13 sub-second write jobs per small append were pure
        # scheduler overhead, and deferring also means a FAILED add
        # leaves no state rows for work that never committed
        self._state_buf: "list[tuple]" = []
        # mutation paths record stages from concurrent driver threads
        # (guide §2.6); the record buffers are the only shared state
        self._rec_lock = threading.Lock()

    # ------------------------------------------------------------ plumbing

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, stage)

    def _done(self, stage: str) -> bool:
        return self.fs.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def _stage(self, name: str, resume: bool, write,
               after: "str | None" = None) -> "tuple[DataFrame, int]":
        """Resume-or-compute one build stage: a completed checkpoint is
        reused under ``resume`` (counted by one job — nothing in this
        run materialized it), otherwise ``write(path, tap)`` produces it
        — either by writing ``tap(frame)`` itself or by returning the
        DataFrame to persist as plain Parquet — and its row count is
        observed on that write.  The checkpoint is read back with its
        declared layout and recorded; returns it with its row count."""
        t0 = time.time()
        path = self._path(name)
        skipped = resume and self._done(name)
        if not skipped:
            tap, rows = row_counter()
            out = write(path, tap)
            if isinstance(out, DataFrame):
                tap(out).write.mode("overwrite").parquet(path)
        df = read_layout(self.spark, self.dir, name)
        n = df.count() if skipped else rows()
        return df, self._record(name, n, t0, skipped, after=after)

    def _record(self, stage: str, rows: int, t0: float,
                skipped: bool = False, after: "str | None" = None) -> int:
        """Bookkeeping only, no Spark job: buffer one StageRecord and one
        pipeline_state row for a single flush at the end (FIXTURES.md §4
        contract: stage, part_id, rows_in, rows_out, t_start, t_end,
        config_hash — the processing_state.json analog).  ``rows`` comes
        from what already materialized the stage: a :func:`row_counter`
        on its write or eager localCheckpoint, or ``len()`` of a driver
        list; the row's ``part_id`` is -1 (a count per stage, not per
        partition), also for a stage with no rows — zero-row probes (e.g.
        a clean id-clash check) must appear for the sent==received
        reconciliation.  ``rows_in`` is the rows_out of ``after``, the
        stage's logical predecessor (-1 for a source stage) — named by
        the caller, since concurrent recorders make "the previous
        record" meaningless.  Returns ``rows``."""
        with self._rec_lock:
            rows_in = next((r.rows_out for r in reversed(self.records)
                            if r.stage == after), -1)
            rec = StageRecord(stage, rows, time.time() - t0, skipped,
                              rows_in=rows_in, t_start=t0,
                              t_end=time.time())
            self.records.append(rec)
            self._state_buf.append(
                (stage, -1, rows_in, rows, rec.t_start, rec.t_end,
                 rec.seconds, skipped, self.cfg.config_hash()))
        return rows

    def _flush_state(self) -> None:
        if not self._state_buf:
            return
        df = local_frame(
            self.spark, self._state_buf,
            "stage string, part_id int, rows_in bigint, "
            "rows_out bigint, ts double, te double, "
            "seconds double, skipped boolean, config_hash string")
        (df.withColumn("t_start", F.timestamp_seconds(F.col("ts")))
         .withColumn("t_end", F.timestamp_seconds(F.col("te")))
         .select("stage", "part_id", "rows_in", "rows_out",
                 "t_start", "t_end", "seconds", "skipped", "config_hash")
         .write.mode("append").parquet(
             os.path.join(self.dir, "pipeline_state")))
        self._state_buf.clear()

    # ------------------------------------------------------------ stages

    def run(self, images: DataFrame, resume: bool = True) -> DataFrame:
        self.fs.mkdirs(self.dir)
        params = os.path.join(self.dir, "parameters.json")
        if self.fs.exists(params):
            # reference parameters.json discipline: refuse mixed-config
            self.cfg.assert_matches_via(self.fs, self.dir)
        else:
            self.cfg.dump_via(self.fs, self.dir)

        n_images = images.count()
        from gsearch_spark.operators.keyidx import (write_ck_index,
                                                    write_edge_index,
                                                    write_id_index)

        # -- stage 0: exact-duplicate collapse (identity short-circuit,
        #    gsearch src/bin/bindash.rs:139-153) ---------------------------
        groups, n_groups = self._stage("exact_groups", resume,
                                       lambda p, tap: exact_groups(images))
        if n_groups != n_images:
            raise RuntimeError("exact_groups row count != image count")
        images_rep = representatives(images, groups)
        with chains() as spawn:
            # rep count from the (keys-only, checkpointed) groups table —
            # the same number as images_rep.count() by construction
            # (rep_id = min image_id of its group, always a row of
            # images) without paying the images⋈reps semi-join a count
            # over images_rep runs.  Only the sent==received check AFTER
            # signatures consumes it, so the count job runs on a side
            # thread under the decode-bound signatures stage (guide
            # §2.6) instead of on the critical path
            nreps_future = spawn(
                lambda: groups.filter(F.col("image_id") == F.col("rep_id"))
                .count())

            # the suffix pass consumes only images_rep (captions + phash)
            # — no signatures, no bands — so it overlaps the decode-bound
            # signatures stage and the bands stage on a side thread
            # (guide §2.6) instead of serializing inside candidate_pairs.
            # Only started when candidate_pairs will actually be computed.
            sfx_future = None
            if not (resume and self._done("candidate_pairs")):
                sfx_future = spawn(lambda: suffix_candidate_pairs(
                    images_rep).localCheckpoint())

            # -- stage 1: signatures (representatives only) ----------------
            sigs, n_sigs = self._stage(
                "signatures", resume,
                lambda p, tap: compute_signatures(images_rep, self.cfg),
                after="exact_groups")
            # sent == received invariant (src/dna/dnasketch.rs:458-464)
            n_reps = nreps_future.result()
            if n_sigs != n_reps:
                raise RuntimeError(
                    f"signature count {n_sigs} != representative count "
                    f"{n_reps} (sent/received reconciliation failed)")

            # -- stage 2: bands --------------------------------------------
            bands, _ = self._stage("bands", resume,
                                   lambda p, tap: build_bands(sigs,
                                                              self.cfg),
                                   after="signatures")

            # -- stage 3: candidate pairs (LSH buckets ∪ suffix pass) ------
            # min(src) dedup => deterministic winner per pair; the suffix
            # pairs have been computing since stage 1
            pairs, n_pairs = self._stage(
                "candidate_pairs", resume,
                lambda p, tap: (emit_bucket_pairs(bands)
                                .unionByName(sfx_future.result())
                                .groupBy("a", "b")
                                .agg(F.min("src").alias("src"))),
                after="bands")
            if sfx_future is not None:
                # no silent caps: surface bucket policy stats in the log.
                # The stats aggregation is observability-only (nothing
                # downstream reads it), so it runs on a side thread under
                # the verify stage.
                def _stats():
                    stats = bucket_stats(bands).collect()[0].asDict()
                    self.fs.write_text(
                        os.path.join(self.dir, "bucket_stats.json"),
                        json.dumps({k: (float(v) if v is not None else None)
                                    for k, v in stats.items()}))
                spawn(_stats)

            # -- stage 4: verified edges -----------------------------------
            # the candidate_pairs stage record bounds the pair count, and
            # so the attach's distinct-id count (two ids per pair)
            edges, n_edges = self._stage(
                "verified_edges", resume,
                lambda p, tap: verified_edges(pairs, images_rep, self.cfg,
                                              n_pairs_hint=n_pairs),
                after="candidate_pairs")

            # ck_index depends only on the stage-0 exact_groups checkpoint
            # and edge_index only on the verified_edges checkpoint just
            # written — both writes overlap the clusters stage below
            # (guide §2.6), whose union-find fast path is driver-heavy and
            # leaves executor slots idle.  (Spawning ck_index earlier —
            # under the decode-bound signatures stage — was measured WORSE
            # per-stage: all 32 task slots are busy there, so the sidecar
            # job just queued and its recorded wall inflated 1.6 s → 3.7 s.)
            spawn(lambda: self._stage(
                "ck_index", resume,
                lambda p, tap: write_ck_index(groups, p, self.cfg, tap),
                after="exact_groups"))
            spawn(lambda: self._stage(
                "edge_index", resume,
                lambda p, tap: write_edge_index(edges, p, self.cfg, tap),
                after="verified_edges"))

            # -- stage 5: clusters (CC over reps, then expand exact-group
            #    members onto their rep's cluster).  The edge count is
            #    already known from the verified_edges record (no extra
            #    job); the reliable-checkpoint mode keeps the distributed
            #    path (its point is surviving executor loss).  Written
            #    hive-partitioned on pbucket(cluster_id) so the append
            #    path can prune its partition-level rewrite ---------------
            def _w_clusters(path: str, tap) -> None:
                cc_dir = (os.path.join(self.dir, "cc_work")
                          if self.cfg.cc_reliable_checkpoints else None)
                comp = cc_roots(edges, n_edges, self.cfg,
                                checkpoint_dir=cc_dir)
                rep_clusters = (images_rep.select("image_id")
                                .join(comp, "image_id", "left")
                                .select("image_id",
                                        F.coalesce("cluster_id", "image_id")
                                        .alias("cluster_id")))
                # repartition ON the partition column first: without it
                # every task writes a file into every pbucket dir (tasks x
                # buckets small files — measured 3x stage cost at 213k
                # rows); with it each bucket is one task writing one file
                out = (expand_clusters(rep_clusters, groups)
                       .withColumn("pbucket", cluster_pbucket(self.cfg))
                       .repartition(self.cfg.cluster_buckets,
                                    F.col("pbucket")))
                (tap(out).write.mode("overwrite").partitionBy("pbucket")
                 .parquet(path))

            clusters, _ = self._stage("clusters", resume, _w_clusters,
                                      after="verified_edges")

            # -- stage 6: key-addressed lookup layouts (operators/keyidx.py).
            #    Sidecar tables whose partitioning + in-file sort make the
            #    append path's membership / label / id-clash probes prune
            #    to O(probed keys) IO instead of scanning corpus-sized key
            #    columns (reference: add addresses its persisted index by
            #    rank, never rescans it — src/dna/dnasketch.rs:106-134).
            #    ck_index and edge_index have been writing on side threads
            #    (guide §2.6) — only the clusters-dependent id_index
            #    remains on the critical path.
            self._stage("id_index", resume,
                        lambda p, tap: write_id_index(clusters, groups, p,
                                                      self.cfg, tap),
                        after="clusters")
        gen_path = os.path.join(self.dir, ID_GEN_FILE)
        if not self.fs.exists(gen_path):
            self.fs.write_text(gen_path, "0")
        self._flush_state()
        return clusters.select("image_id", "cluster_id")


# -------------------------------------------- shared mutation skeleton
#
# incremental_add, remove_images, purge_removed and compact_id_index are
# four bodies inside one skeleton: the single-writer lock
# (_writer_locked), the prologue (mutation_prologue), and the manifest
# commit — every output staged under _add_staging, write_manifest at the
# commit point, then finish_commit, which is also the whole of
# recover_add_commit, so every mutation runs the recovery code.  The add
# and the remove also share the touched-bucket clusters rewrite
# (stage_clusters_rewrite).

def _writer_locked(mutation):
    """Run a mutation entry point ``mutation(spark, cfg, checkpoint_dir,
    ...)`` under :func:`add_writer_lock`, taken before any state is
    read: the manifest commit protocol admits exactly one writer
    (re-entrant under an enclosing lock; dead same-host holders
    self-heal)."""
    @functools.wraps(mutation)
    def locked(spark, cfg, checkpoint_dir, *args, **kwargs):
        with add_writer_lock(spark, checkpoint_dir):
            return mutation(spark, cfg, checkpoint_dir, *args, **kwargs)
    return locked


def recover_table_swap(fs: CheckpointFS, path: str) -> bool:
    """Heal a table swap torn by the two-rename protocol that purge and
    id_index compaction used before they committed through the manifest:
    ``path__compact`` staged, live ``path`` renamed to ``path__old``,
    ``path__compact`` renamed to ``path``, ``path__old`` deleted.  With
    live ``path`` present anything left over is droppable garbage; with
    it missing, the staged copy (else the old one) is renamed back in.
    Returns True iff anything was repaired or dropped."""
    old, tmp = f"{path}__old", f"{path}__compact"
    if fs.exists(path):
        dropped_tmp = fs.delete(tmp)
        dropped_old = fs.delete(old)
        return bool(dropped_tmp or dropped_old)
    for src in (tmp, old):
        if fs.exists(src):
            if not fs.rename(src, path):
                raise IOError(f"table swap heal rename failed: {src} -> "
                              f"{path}")
            fs.delete(old)
            return True
    return False


def mutation_prologue(pipe: NearDupPipeline,
                      required: "tuple[str, ...]") -> "tuple[str, int]":
    """Shared start of every mutation, under the writer lock: refuse a
    build written with another config, roll a torn manifest commit
    forward, heal a table swap torn by the former two-rename protocol
    (only for the ``__compact``/``__old`` dirs one listing of the build
    root shows), refuse a build without the ``required`` tables, and
    wipe pre-commit staging garbage (a staging dir without a manifest
    is a mutation that never happened).  Returns the staging dir and
    the next id_index generation."""
    fs = pipe.fs
    pipe.cfg.assert_matches_via(fs, pipe.dir)
    recover_add_commit(pipe.spark, pipe.dir)
    for child in fs.list_children(pipe.dir):
        name = child.rsplit("/", 1)[-1]
        if name.endswith(("__compact", "__old")):
            recover_table_swap(fs, pipe._path(name.rsplit("__", 1)[0]))
    if not all(fs.exists(f"{pipe._path(n)}/_SUCCESS") for n in required):
        raise ValueError(
            "checkpoint predates key-addressed lookup layouts (no "
            f"{'/'.join(required)}); rebuild with tohnsw first")
    staging = pipe._path("_add_staging")
    fs.delete(staging)
    gen_file = pipe._path(ID_GEN_FILE)
    gen = int(fs.read_text(gen_file)) if fs.exists(gen_file) else 0
    return staging, gen + 1


_BUCKET = "clusters/pbucket="


def write_manifest(pipe: NearDupPipeline, staging: str, gen: int,
                   swap: "dict[str, bool]", append_stages: "list[str]",
                   partitioned_appends: "list[str]") -> dict:
    """The commit point of a mutation whose output is all staged:
    persist the manifest naming it — flat ``append_stages`` and hive-
    partitioned ``partitioned_appends`` (their files move into the live
    table), the ``swap`` map (a dir under the build, a clusters
    ``clusters/pbucket=<p>`` or a whole table, -> whether a replacement
    was staged for it; one without is deleted) and the id_index
    generation.  Clusters buckets keep their own key,
    ``clusters_swap``; the rest go to ``replace``.  Before the manifest
    a crash leaves pre-commit staging garbage; after it the commit
    rolls FORWARD."""
    manifest = {"version": 2, "staging": staging,
                "append_stages": append_stages,
                "partitioned_appends": partitioned_appends,
                "id_index_gen": gen,
                "clusters_swap": {k[len(_BUCKET):]: v for k, v in
                                  swap.items() if k.startswith(_BUCKET)},
                "replace": {k: v for k, v in swap.items()
                            if not k.startswith(_BUCKET)}}
    pipe.fs.write_text(pipe._path(ADD_MANIFEST), json.dumps(manifest))
    return manifest


def finish_commit(spark: SparkSession, fs: CheckpointFS, root: str,
                  manifest: dict, flush=None) -> None:
    """Finish a written manifest: apply it (idempotent; a failed rename
    raises and leaves the manifest for roll-forward), drop it, then run
    the housekeeping as ONE concurrent wave (guide §2.6) — the staging
    wipe (recursive FS delete), the lineage ``flush`` (one parquet
    append job; none on recovery) and the file-status cache refresh of
    every table the manifest touched (the commit moved files via raw FS
    renames, invisible to Spark's shared cache — the documented
    plan-cache-over-rewritten-path pitfall, FS-metadata edition)."""
    _apply_add_commit(fs, root, manifest)
    fs.delete(f"{root}/{ADD_MANIFEST}")

    with chains() as spawn:
        spawn(lambda: fs.delete(manifest["staging"]))
        if flush is not None:
            spawn(flush)
        for name in (manifest["append_stages"]
                     + manifest.get("partitioned_appends", [])
                     + list(manifest.get("replace", {})) + ["clusters"]):
            spark.catalog.refreshByPath(f"{root}/{name}")


def stage_clusters_rewrite(pipe: NearDupPipeline, staging: str,
                           stored: DataFrame, aff: DataFrame,
                           aff_buckets: "list[int]", delta: DataFrame,
                           prefix: str) -> "dict[str, bool]":
    """Stage a mutation's clusters rewrite, touched buckets only (the
    Iceberg partition-MERGE analog): every pbucket holding an affected
    cluster (``aff``: its ``cluster_id`` labels, living in
    ``aff_buckets``) or a ``delta`` row is rewritten as its unaffected
    rows ∪ the delta rows that now hash there.  Recorded as
    ``<prefix>_clusters_rewrite``.  Returns the manifest's swap map:
    touched bucket -> whether rows were staged for it (a touched bucket
    left empty — all its clusters merged or removed away — is DELETED
    at commit, not left stale), keyed ``clusters/pbucket=<p>``."""
    t0 = time.time()
    pb = cluster_pbucket(pipe.cfg)
    delta_buckets = {r[0] for r in
                     delta.select(pb.alias("pb")).distinct().collect()}
    touched = sorted(set(aff_buckets) | delta_buckets)
    kept = (stored.filter(F.col("pbucket").isin(touched))
            .join(F.broadcast(aff.select("cluster_id")), "cluster_id",
                  "left_anti")
            .select("image_id", "cluster_id"))
    tap, rows = row_counter()
    (tap(kept.unionByName(delta.select("image_id", "cluster_id"))
         .withColumn("pbucket", pb)
         .repartition(max(len(touched), 1), F.col("pbucket")))
     .write.mode("overwrite").partitionBy("pbucket")
     .parquet(f"{staging}/clusters"))
    pipe._record(f"{prefix}_clusters_rewrite", rows(), t0,
                 after=f"{prefix}_clusters")
    # a partitioned write makes a pbucket= dir exactly for the buckets
    # it wrote rows to (a remove that kills every cluster in its touched
    # buckets stages none)
    present = {child.rsplit("/pbucket=", 1)[1] for child in
               pipe.fs.list_children(f"{staging}/clusters")
               if "/pbucket=" in child}
    return {f"{_BUCKET}{p}": str(p) in present for p in touched}


@_writer_locked
def incremental_add(spark: SparkSession, cfg: PipelineConfig,
                    checkpoint_dir: str, new_images: DataFrame,
                    all_images: DataFrame) -> DataFrame:
    """APPEND-ONLY add: insert new items into an existing build without
    re-sketching, re-banding or re-verifying the old corpus.

    The reference's ``add`` subcommand analog (gsearch
    ``src/bin/gsearch.rs:488-505``): it reloads the persisted index and
    parameters, inserts ONLY the new items into the existing HNSW with
    continuing ranks (``src/dna/dnasketch.rs:106-134``, rank continuation
    ``:405,427-433``) — old nodes are never rebuilt.  Mirrored here:

    * config reloads from the checkpoint and must hash-match (the
      reference re-sketches new data with the ORIGINAL parameters) —
      checked by :func:`mutation_prologue`, the start shared with
      every other mutation, which also rolls a torn commit forward and
      wipes stale staging;
    * every stored-metadata probe (id-clash refusal, ck membership,
      suffix-group rep-ness, endpoint labels) is a PRUNED point lookup
      into the key-addressed ck_index / id_index layouts
      (operators/keyidx.py): partition filter from the probe keys'
      bucket set + IN-list row-group pruning on key-sorted files — the
      stored corpus' key columns are never scanned, closing the last
      linear-in-corpus term in the append story (reference anchor: add
      addresses its persisted index by rank, src/dna/dnasketch.rs:106-134);
    * exact grouping keys new rows against the stored content keys via
      that ck_index probe — old payload bytes are never rescanned;
      a new row whose content matches an existing group becomes a MEMBER
      of that group's existing representative (rank continuation: a rep
      keeps its identity even if a lexicographically smaller duplicate
      arrives later — output labels are normalized below so clusters still
      equal a from-scratch rebuild's);
    * only genuinely new representatives are decoded + sketched + banded;
    * removed images stay removed: the merge-on-read removal sidecars
      (``remove.read_removal_state``) apply on every add — the ck probe
      vetoes dead groups, stored-pair probes drop dead group nodes and
      re-point remapped founding reps, matched groups read their label
      through the promoted member.  On a build that never saw a remove
      the sidecars are empty local relations and those joins fold out
      of the optimized plans, so the add keeps no removal gate;
    * candidates = new-vs-new (the standard salted bucket self-join over
      the new slice only) ∪ new-vs-old (bounded probe join against the
      stored bands, :func:`probe_pairs_vs_stored`) ∪ the suffix pass over
      ONLY the phash groups a new rep touches;
    * verify decodes only new-touching pairs, capped per new item
      (cfg.add_max_candidates_per_item) after the phash prefilter;
    * clusters update INCREMENTALLY by contraction: the stored clusters
      checkpoint IS the connected components of all stored edges, so
      contracting every old component to its label preserves
      connectivity exactly — CC runs over LABEL-level edges induced by
      the new verified edges only (O(|new edges|) input, recorded as
      ``add_cc_edges``), never over the stored edge set (which this
      path no longer even reads).  Affected clusters = merged labels ∪
      clusters whose exact-groups received new members; only their
      member rows are re-read (partition-pruned via the clusters
      checkpoint's pbucket hive partitioning), re-labelled and
      min-member-normalized (``add_clusters`` = that delta).  The tail
      runs on the driver whenever the endpoint prefetch fits
      ``cfg.add_cc_local_max_edges`` and as DataFrame jobs past it;
    * commit is manifest-protected: every delta (including the touched
      clusters partitions, :func:`stage_clusters_rewrite`) is fully
      staged first, then :func:`write_manifest` writes the commit
      manifest, then :func:`finish_commit` moves/swaps files by rename.
      A crash at ANY point either leaves a pre-manifest staging dir
      (the add never happened; wiped and re-runnable) or a torn
      post-manifest commit that :func:`recover_add_commit` — the same
      :func:`finish_commit`, called automatically at the start of the
      next mutation — rolls FORWARD to completion.  Appends are file
      renames; clusters swaps only the partitions in the manifest, so
      per-add clusters IO is O(affected), not O(corpus).

    Per-add IO and decode cost are O(new); per-stage delta row counts
    land in pipeline_state under ``add_*`` stage names (the O(new)
    contract is asserted in tests/test_incremental_add.py).  The
    reference's ``add`` is likewise insert-only into the persisted HNSW
    with no corpus-sized post-pass (src/dna/dnasketch.rs:106-134) but
    offers no torn-commit recovery.

    Mutation is SINGLE-WRITER: the add runs under
    :func:`add_writer_lock`, taken before reading any state, and
    refuses (:class:`ConcurrentAddError`) while another writer holds
    it — the manifest commit protocol admits one writer by design.
    Dead same-host holders self-heal; a stale cross-host lock is broken
    explicitly with the ``unlock`` subcommand.  Re-entrant under an
    enclosing :func:`add_writer_lock` (how the CLI and the streaming
    sink hold one lock across payload-append + add).

    ``all_images`` must be old ∪ new (verify needs both sides' payloads;
    at scale, back it with a table whose layout supports id lookups —
    Iceberg bucket pruning — so the payload attach reads only candidate
    row groups).  Returns the new clusters DataFrame.
    """
    from pyspark.sql import Window
    from gsearch_spark.operators.banding import explode_all_bands
    from gsearch_spark.operators.candidates import (emit_bucket_pairs,
                                                    probe_pairs_vs_stored)
    from gsearch_spark.operators.exact import content_keys
    from gsearch_spark.operators.keyidx import (CK_INDEX, EDGE_INDEX,
                                                lookup_ck_index,
                                                lookup_id_index, probe_keys,
                                                stage_id_append,
                                                write_ck_index,
                                                write_edge_index)
    from gsearch_spark.operators.suffix import suffix_candidate_pairs
    from gsearch_spark.operators.verify import (attach_payloads,
                                                attach_strategy,
                                                prefilter_pairs, verify_pairs)

    pipe = NearDupPipeline(spark, cfg, checkpoint_dir)
    staging, new_gen = mutation_prologue(
        pipe, ("ck_index", "id_index", "edge_index"))
    ck_path = pipe._path("ck_index")
    id_path = pipe._path("id_index")
    from gsearch_spark.operators.remove import (count_tombstones,
                                                drop_dead, pair_fix,
                                                read_removal_state,
                                                remap_col)

    with chains() as spawn:
        # the stored-table handles are driver-side FILE-INDEX LISTINGS (the
        # partitioned sidecars list ~key_buckets dirs each), the removal
        # state is more FS probes, and the new slice's one-time lineage cut
        # is a small job — all independent, so the whole setup runs as ONE
        # concurrent wave (guide §2.6; measured ~4 s serial at bench scale).
        # One listing per lookup table serves the whole add (the tables
        # don't change until this add's own commit).  The new-slice cut is
        # localCheckpoint (NOT persist; the documented plan-cache-over-
        # rewritten-path pitfall), O(new) bytes, consumed by ~8 downstream
        # plans.
        # merge-on-read removal sidecars (operators/remove.py), applied
        # on every add: without removals they are empty local relations
        # and the optimizer folds their joins out of each plan below
        setup = [spawn(lambda n=n: read_layout(spark, checkpoint_dir, n))
                 for n in ("exact_groups", "bands", "clusters", "ck_index",
                           "id_index")] + [
            spawn(lambda: read_removal_state(spark, checkpoint_dir))]
        new_images, n_new = checkpoint_rows(new_images)
        (old_groups, old_bands, clusters_stored, ck_idx_df, id_idx_df,
         (dead_df, remap_df)) = [f.result() for f in setup]

        # three independent probe chains run CONCURRENTLY (guide §2.6): the
        # union sanity counts, the id-clash refusal lookup and the new
        # slice's content keys share nothing and are each a couple of small
        # jobs whose latency would otherwise serialize
        def _chk_counts():
            n_old = old_groups.count()
            # exact_groups is merge-on-read historical state: removed rows
            # stay until compaction, so the live count subtracts tombstones
            n_dead = count_tombstones(spark, checkpoint_dir)
            return n_old, n_dead, all_images.count()

        def _chk_clash():
            # id-clash refusal via the id-keyed layout: O(new) pruned point
            # lookup, not a corpus scan of stored image_ids
            t0 = time.time()
            clash = lookup_id_index(spark, id_path,
                                    new_images.select("image_id"), cfg,
                                    idx_df=id_idx_df)
            return pipe._record("add_lookup_idclash", clash.count(), t0)

        def _mk_old_keys():
            # content keys of the new slice, then the ck-membership probe —
            # a read-only pruned point lookup, safe to overlap the refusal
            # checks (staging mutation only starts after both validate)
            nk = content_keys(new_images).localCheckpoint()
            t0 = time.time()
            # a fully-removed exact-group's ck row lingers until
            # compaction; re-added identical content must read as FRESH,
            # not resurrect the dead group node
            old_keys, n_keys = checkpoint_rows(drop_dead(  # O(new) rows
                lookup_ck_index(spark, ck_path, nk.select("ck"), cfg,
                                idx_df=ck_idx_df), "rep_id", dead_df))
            pipe._record("add_lookup_ck", n_keys, t0)
            return nk, old_keys

        def _touched_prefix():
            # touched phash groups for the suffix pass: the slice is keyed
            # by the NEW images' phashes — a superset of the new REPS'
            # phashes (a new non-rep's pixels equal its dup's pixels, hence
            # its phash), and the suffix tail filters pairs to new-rep
            # endpoints, so using the superset changes nothing downstream
            # while letting this chain overlap the setup lookups instead of
            # waiting for exact grouping.  The slice is a key-set probe
            # of the payload table (keyidx.probe_keys): a few touched
            # phashes push down as an IN-list so parquet row-group stats
            # prune the payload scan (on a phash-sorted / z-ordered
            # Iceberg table this turns the per-add suffix input read into
            # O(touched groups) IO).
            touched_imgs = probe_keys(all_images, "phash",
                                      new_images.select("phash"))
            # eager cut — O(touched) keys+caption rows: the slice feeds the
            # rep-ness lookup's key collect AND the suffix input join, which
            # otherwise re-scan the corpus metadata once each
            touched_imgs = (touched_imgs.select("phash", "image_id",
                                                "caption")
                            .localCheckpoint())
            # rep-ness of the touched slice comes from a pruned id_index
            # point lookup (is_rep flag), not a corpus scan of the stored
            # group keys; new reps aren't in id_index yet and union in
            # explicitly
            t0 = time.time()
            touched_lk = lookup_id_index(spark, id_path,
                                         touched_imgs.select("image_id"),
                                         cfg, idx_df=id_idx_df)
            # a group whose founding rep was removed has NO live is_rep
            # row; its promoted surviving member (rep_remap target) stands
            # in as the group's suffix-pass node so the group isn't
            # skipped
            promoted = touched_lk.join(
                F.broadcast(remap_df.select(F.col("new_rep")
                                            .alias("image_id"))),
                "image_id", "left_semi")
            old_touched_reps, n_reps = checkpoint_rows(
                touched_lk.filter(F.col("is_rep")).select("image_id")
                .unionByName(promoted.select("image_id")).distinct())
            pipe._record("add_lookup_touched_reps", n_reps, t0)
            return touched_imgs, old_touched_reps

        touched_future = spawn(_touched_prefix)
        counts_future, clash_future = spawn(_chk_counts), spawn(_chk_clash)
        nk, old_keys = _mk_old_keys()
        n_old, n_dead, n_all = counts_future.result()
        if n_all != n_old - n_dead + n_new:
            raise ValueError("all_images must be exactly old ∪ new "
                             "(minus removed rows)")
        if clash_future.result():
            raise ValueError("new_images contains ids already in the build")

        def stage(name: str, df: DataFrame,
                  after: "str | None" = None) -> DataFrame:
            """Materialize a delta under staging; record rows/secs as add_*
            (``after``: the logical predecessor's unprefixed name)."""
            t0 = time.time()
            tap, rows = row_counter()
            tap(df).write.mode("overwrite").parquet(f"{staging}/{name}")
            pipe._record(f"add_{name}", rows(), t0,
                         after=after and f"add_{after}")
            return read_layout(spark, staging, name)

        # -- exact grouping of the new slice (no old bytes touched; the
        #    membership probe was a pruned point lookup into ck_index in
        #    the parallel setup block above — the stored corpus' key
        #    columns are never scanned) --------------------------------------
        matched = (nk.join(F.broadcast(old_keys), "ck")
                   .select("image_id", "rep_id", "ck"))
        # same skew-immune form as the full build's exact_groups (a bulk
        # append can carry a viral bomb too): min-per-ck via groupBy gets
        # map-side combine, the join-back is AQE-skew-splittable; the
        # anti-join re-runs per consumer but over the localCheckpointed
        # keys-only nk — no byte rescan
        fresh_keys = nk.join(F.broadcast(old_keys.select("ck")), "ck",
                             "left_anti")
        fresh_reps = (fresh_keys.groupBy("ck")
                      .agg(F.min("image_id").alias("rep_id")))
        fresh = (fresh_keys.join(fresh_reps, "ck")
                 .select("image_id", "rep_id", "ck"))
        new_groups = stage("exact_groups", matched.unionByName(fresh))

        # -- sketch only brand-new representatives ---------------------------
        new_rep_ids = (new_groups
                       .filter(F.col("image_id") == F.col("rep_id"))
                       .select("image_id"))
        to_sketch = new_images.join(new_rep_ids, "image_id", "left_semi")

        # matched reps (old groups gaining members) depend only on the
        # just-staged exact groups; the driver tail needs them as a driver
        # list, so the collect runs on a side thread under the whole
        # sketch/band/verify phase (guide §2.6).
        mr_expr = (new_groups
                   .join(new_images.select(F.col("image_id").alias("rep_id")),
                         "rep_id", "left_anti")
                   .select("rep_id").distinct())
        def _mr_collect():
            mr = sorted(r["rep_id"] for r in mr_expr.collect())
            rmp = {r["old_rep"]: r["new_rep"] for r in remap_df.collect()}
            return mr, rmp

        # the spawn gate bounds the COLLECT (mr_list <= n_new rows); past
        # it the endpoint prefetch below returns None, and so does every add
        # its own bound sends to the distributed tail
        mr_future = spawn(_mr_collect) \
            if n_new <= cfg.add_cc_local_max_edges else None

        # -- candidates: new-vs-new ∪ new-vs-old ∪ touched suffix groups -----
        # Each branch is cut with an eager localCheckpoint before the union:
        # the branches build near-identical exchanges over the same staged
        # inputs (bands keys), and Spark's AQE exchange reuse across union
        # arms produced mismatched coalesced partitionings inside one
        # codegen'd join ("Can't zip RDDs with unequal numbers of
        # partitions", reproduced at 32 cores / 213k rows).  The cut
        # materializes each (small) pair list independently; localCheckpoint,
        # not persist — the documented plan-cache-over-rewritten-path
        # pitfall.  The three branches below (sketch -> banding/probe,
        # touched-suffix chain, ck_index staging) depend only on
        # new_groups/to_sketch and run CONCURRENTLY (guide §2.6) — each is
        # a chain of small jobs, so overlapping them converts serial
        # per-job latency into one wave; the suffix chain does not need the
        # new signatures, so it overlaps the decode+sketch stage too.
        def _probe_old_pairs(new_sigs):
            # stored bands stay keyed by founding group nodes until purge:
            # pairs against a DEAD group's node are content that no longer
            # exists (drop), and pairs against a tombstoned founding whose
            # group survives re-point at the promoted surviving member so
            # the verify stage attaches live payloads.  Pairs the
            # re-pointing merges are deduplicated by the candidate_pairs
            # stage's groupBy below.
            return pair_fix(
                probe_pairs_vs_stored(explode_all_bands(new_sigs, cfg),
                                      old_bands),
                dead_df, remap_df, ["src"]).localCheckpoint()

        def _br_touched():
            touched_imgs, old_touched_reps = touched_future.result()
            # eager cut before the suffix pass: at bulk append sizes the
            # rep-ness lookup takes the semi-join fallback and this
            # subtree's exchanges get reused by both arms of the sfx_new
            # union below — the documented AQE exchange-reuse zip bug
            # ("Can't zip RDDs with unequal numbers of partitions",
            # reproduced at a 10% append)
            touched_reps = (touched_imgs.join(
                old_touched_reps.unionByName(new_rep_ids), "image_id",
                "left_semi").localCheckpoint())
            # sfx feeds BOTH union arms below — cut it first, or the shared
            # exchange under the two consumers trips the AQE reuse bug
            sfx = suffix_candidate_pairs(touched_reps).localCheckpoint()
            return (sfx.join(new_rep_ids.withColumnRenamed("image_id", "a"),
                             "a", "left_semi")
                    .unionByName(
                        sfx.join(new_rep_ids.withColumnRenamed("image_id",
                                                               "b"),
                                 "b", "left_semi"))
                    .dropDuplicates(["a", "b"])).localCheckpoint()

        sfx_future = spawn(_br_touched)
        spawn(lambda: write_ck_index(new_groups, f"{staging}/{CK_INDEX}",
                                     cfg))
        new_sigs = stage("signatures", compute_signatures(to_sketch, cfg),
                         after="exact_groups")
        no_future = spawn(lambda: _probe_old_pairs(new_sigs))
        new_bands = stage("bands", build_bands(new_sigs, cfg),
                          after="signatures")
        nn_pairs = emit_bucket_pairs(new_bands).localCheckpoint()
        new_pairs = stage("candidate_pairs",
                          nn_pairs.unionByName(no_future.result())
                          .unionByName(sfx_future.result())
                          .groupBy("a", "b").agg(F.min("src").alias("src")),
                          after="bands")

        # -- verify only new-touching pairs, capped per new item -------------
        plausible = prefilter_pairs(new_pairs, all_images,
                                    cfg.prefilter_max_phash_hamming,
                                    cfg.prefilter_max_phash_hamming_phash_src)
        flag_a = new_rep_ids.select(F.col("image_id").alias("a"),
                                    F.lit(True).alias("a_new"))
        keyed = (plausible
                 .join(flag_a, "a", "left")
                 .withColumn("key",
                             F.when(F.coalesce("a_new", F.lit(False)),
                                    F.col("a")).otherwise(F.col("b")))
                 .withColumn("other",
                             F.when(F.coalesce("a_new", F.lit(False)),
                                    F.col("b")).otherwise(F.col("a"))))
        w_cap = Window.partitionBy("key").orderBy("other")
        # eager cut: O(new x cap) keys-only rows.  The capped-pair subtree
        # (meta joins + window) otherwise evaluates twice — once as the
        # candidate-id semi build side, once as the pair probe side
        # (guide §2.4: duplicated subtrees in the plan)
        capped, n_cap = checkpoint_rows(
            keyed.withColumn("rn", F.row_number().over(w_cap))
            .filter(F.col("rn") <= cfg.add_max_candidates_per_item)
            .select("a", "b", "src"))
        # materialize_slim: the candidate payload slice is O(new x cap) ids
        # out of the whole corpus — one eager cut replaces TWO full payload
        # scans in the pair-attach plan (guide §8: move heavy bytes once).
        # Every capped pair has a new endpoint, so distinct candidate ids
        # <= 2 x new x cap bounds the attach strategy.
        attached = attach_payloads(
            capped, all_images,
            strategy=attach_strategy(
                cfg, 2 * n_new * cfg.add_max_candidates_per_item),
            materialize_slim=True)

        # PREFETCH the endpoint-label lookup under the verify stage (guide
        # §2.6): every verified edge endpoint is an endpoint of `capped`
        # (edges = verify(capped) filtered), and the matched reps' promoted
        # members are known from the mr collect — so the pruned id_index
        # lookup the driver tail needs can run NOW, off the critical path,
        # on the (slightly larger) capped-endpoint superset.  The side
        # thread self-gates on the driver budget — the add tail's ONE gate:
        # the verified edges are a subset of `capped`, so
        # 2·|capped| + n_new bounds every set the driver tail collects; past
        # it the prefetch returns None and the add takes the distributed
        # tail.  Probing a superset only ADDS rows for ids the tail then
        # filters out — labels for non-edge endpoints are never read.
        def _ep_prefetch():
            if mr_future is None:
                return None
            mr_l, rmp = mr_future.result()
            if (2 * n_cap + n_new) > cfg.add_cc_local_max_edges:
                return None  # collect would blow the driver budget
            lreps = sorted({rmp.get(r, r) for r in mr_l})
            cap_ids = (capped.select(F.col("a").alias("image_id"))
                       .unionByName(capped.select(F.col("b")
                                                  .alias("image_id")))
                       .distinct())
            probe = cap_ids
            if lreps:
                probe = probe.unionByName(local_frame(
                    spark, [(i,) for i in lreps],
                    "image_id string")).distinct()
            rows = lookup_id_index(spark, id_path, probe, cfg,
                                   idx_df=id_idx_df).collect()
            return mr_l, rmp, rows

        ep_future = spawn(_ep_prefetch)
        new_edges = stage("verified_edges",
                          verify_pairs(attached, cfg).filter(F.col("dup"))
                          .select("a", "b", "src", "psnr", "caption_eq"),
                          after="candidate_pairs")

        # -- INCREMENTAL clusters: CC by contraction ------------------------
        # Stored clusters are exactly CC(stored edges), so contracting each
        # old component to its label preserves connectivity when the new
        # edges arrive: CC input is the label-level image of the NEW edges
        # only — O(|new edges|), independent of the stored edge count (which
        # is never read).  Endpoint labels come from a pruned id_index point
        # lookup (partition filter + IN-list row-group pruning) — neither
        # the stored clusters table nor any other corpus-sized relation is
        # scanned on this path.
        def _c_edge_for(ep_info):
            # dedup-graph edge delta for the remove path's split
            # recomputation: endpoints translated to their FOUNDING group
            # nodes (old endpoints via the ep_info point lookup, new reps
            # are their own founding node), canonical a < b, intra-group
            # self-loops dropped
            ef_a = ep_info.select(F.col("image_id").alias("a"),
                                  F.col("rep_id").alias("fa"))
            ef_b = ep_info.select(F.col("image_id").alias("b"),
                                  F.col("rep_id").alias("fb"))
            fedges = (new_edges.select("a", "b")
                      .join(F.broadcast(ef_a), "a", "left")
                      .join(F.broadcast(ef_b), "b", "left")
                      .select(F.coalesce("fa", F.col("a")).alias("na"),
                              F.coalesce("fb", F.col("b")).alias("nb"))
                      .filter(F.col("na") != F.col("nb"))
                      .select(F.least("na", "nb").alias("a"),
                              F.greatest("na", "nb").alias("b"))
                      .distinct())
            write_edge_index(fedges, f"{staging}/{EDGE_INDEX}", cfg)

        # DRIVER tail (guide §2.6 taken to its limit): the whole labels ->
        # contracted-CC -> affected-set algebra operates on sets bounded by
        # O(new edges + new rows) — the SAME magnitude the union-find fast
        # path has always collected — yet the DataFrame form pays ~5 small
        # jobs of latency (ep_info cut, labels cut, label_edges cut,
        # affected cut and collect).  Whenever the endpoint
        # prefetch came back (its bound is the driver budget), the
        # prefetched rows, the matched reps and the staged edge list are on
        # the driver and plain dict/set algebra replaces the join chain —
        # provably the same maps: get(x, x) IS coalesce over a left join,
        # the set comprehension IS the distinct union.  Bulk adds past the
        # bound take the distributed DataFrame tail below.
        t0 = time.time()
        prefetch = ep_future.result()
        if prefetch is not None:
            mr_list, remap, super_rows = prefetch
            # a matched group's founding rep may be tombstoned (group
            # alive): its own id_index label is a stale null-or-old row, so
            # the LABEL is read through the promoted surviving member
            # (lrep), while group identity stays the founding node
            mr_pairs = [(r, remap.get(r, r)) for r in mr_list]
            edge_rows = [(r["a"], r["b"]) for r in
                         new_edges.select("a", "b").collect()]
            ep_ids = ({a for a, _ in edge_rows} | {b for _, b in edge_rows}
                      | {l for _, l in mr_pairs})
            # prefetched superset (capped endpoints ∪ lreps) ⊇ ep_ids:
            # restricting the collected rows IS the direct lookup
            ep_rows = [r for r in super_rows if r["image_id"] in ep_ids]
            ep_info = local_frame(
                spark,
                [(r["image_id"], r["cluster_id"], r["is_rep"], r["rep_id"])
                 for r in ep_rows],
                "image_id string, cluster_id string, "
                "is_rep boolean, rep_id string")
            spawn(lambda: _c_edge_for(ep_info))
            # defensive None-guard: a NULL cluster_id (a "stale null-or-old
            # row") must behave like an ABSENT label — the DataFrame path's
            # coalesce(label, id) rescues it, so the dict must not store
            # None (get(x, x) then rescues identically, and a None could
            # never equi-join in the stored-label set either).  ep_info
            # keeps the full row: its rep_id still serves the edge delta.
            labels_live = {r["image_id"]: r["cluster_id"] for r in ep_rows
                           if r["cluster_id"] is not None}
            labels_map = dict(labels_live)
            for rep, lrep in mr_pairs:
                if lrep in labels_live:  # inner-join semantics
                    labels_map[rep] = labels_live[lrep]
            labels = local_frame(spark, sorted(labels_map.items()),
                                 "image_id string, label string")
            pipe._record("add_lookup_labels", len(labels_map), t0,
                         after="add_verified_edges")
            t0 = time.time()
            le_set = set()
            for a, b in edge_rows:
                la = labels_map.get(a, a)
                lb = labels_map.get(b, b)
                if la != lb:
                    le_set.add((la, lb))
            pipe._record("add_cc_edges", len(le_set), t0,
                         after="add_verified_edges")
            mapping = union_find(sorted(le_set))
            rep_cc = local_frame(spark, sorted(mapping.items()),
                                 "image_id string, cluster_id string")
            # affected clusters: merged old labels ∪ clusters whose
            # exact-groups gained members (their min MEMBER id — the label
            # under the from-scratch normalization contract — may change)
            t0 = time.time()
            stored_label_set = set(labels_map.values())
            aff_set = {l for l in mapping if l in stored_label_set}
            aff_set |= {labels_map[r] for r in mr_list if r in labels_map}
            aff_cl = local_frame(spark, [(l,) for l in sorted(aff_set)],
                                 "cluster_id string")
            # bucket ids via the SAME Spark hash expression the layout uses
            # (xxhash64 is not reimplemented driver-side) — one LocalRelation
            # job over O(affected) rows
            aff_buckets = sorted(
                {r["pb"] for r in
                 aff_cl.select(cluster_pbucket(cfg).alias("pb")).collect()})
        else:
            matched_reps = mr_expr  # old reps gaining members
            # a matched group's founding rep may be tombstoned (group
            # alive): its label is read through the promoted surviving
            # member
            endpoint_ids = (new_edges.select(F.col("a").alias("image_id"))
                            .unionByName(new_edges.select(F.col("b")
                                                          .alias("image_id")))
                            .unionByName(remap_col(matched_reps, "rep_id",
                                                   remap_df)
                                         .select(F.col("rep_id")
                                                 .alias("image_id")))
                            .distinct())
            # endpoint labels via the id-keyed layout: pruned point lookup,
            # O(new edges + matched reps) rows read.  The same lookup also
            # resolves each old endpoint's FOUNDING group node (rep_id) for
            # the edge_index delta.
            ep_info = (lookup_id_index(spark, id_path, endpoint_ids, cfg,
                                       idx_df=id_idx_df)
                       .localCheckpoint())  # O(new edges + matched reps)
            # the edge_index delta needs only ep_info + the staged
            # new_edges — its staging write overlaps the labels->CC->delta
            # chain on a side thread (guide §2.6)
            spawn(lambda: _c_edge_for(ep_info))
            labels_live = ep_info.select("image_id",
                                         F.col("cluster_id").alias("label"))
            # remapped founding reps resolve their label via their
            # promoted member
            promoted = (matched_reps
                        .join(F.broadcast(remap_df.withColumnRenamed(
                            "old_rep", "rep_id")), "rep_id")
                        .join(labels_live.withColumnRenamed("image_id",
                                                            "new_rep"),
                              "new_rep")
                        .select(F.col("rep_id").alias("image_id"), "label"))
            # cut: five plans below read the labels
            labels, n_labels = checkpoint_rows(
                labels_live.unionByName(promoted))
            pipe._record("add_lookup_labels", n_labels, t0,
                         after="add_verified_edges")
            t0 = time.time()
            lab_a = labels.select(F.col("image_id").alias("a"),
                                  F.col("label").alias("la"))
            lab_b = labels.select(F.col("image_id").alias("b"),
                                  F.col("label").alias("lb"))
            label_edges, n_label_edges = checkpoint_rows(
                new_edges.select("a", "b")
                .join(F.broadcast(lab_a), "a", "left")
                .join(F.broadcast(lab_b), "b", "left")
                .select(F.coalesce("la", F.col("a")).alias("a"),
                        F.coalesce("lb", F.col("b")).alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct())
            pipe._record("add_cc_edges", n_label_edges, t0,
                         after="add_verified_edges")
            rep_cc = cc_roots(label_edges, n_label_edges, cfg)
            # affected clusters: merged old labels ∪ clusters whose
            # exact-groups gained members
            t0 = time.time()
            stored_labels = labels.select("label").distinct()
            matched_rep_labels = (matched_reps
                                  .join(labels.withColumnRenamed("image_id",
                                                                 "rep_id"),
                                        "rep_id")
                                  .select("label"))
            aff = (rep_cc.select(F.col("image_id").alias("label"))
                   .join(stored_labels, "label", "left_semi")
                   .unionByName(matched_rep_labels)
                   .distinct().localCheckpoint())
            aff_buckets = sorted(r[0] for r in
                                 aff.select(cluster_pbucket(cfg, "label"))
                                 .distinct().collect())
            aff_cl = aff.withColumnRenamed("label", "cluster_id")
        # member rows of affected clusters ONLY, read under pbucket pruning
        aff_members = (clusters_stored
                       .filter(F.col("pbucket").isin(aff_buckets))
                       .join(F.broadcast(aff_cl), "cluster_id")
                       .select("image_id", "cluster_id"))
        Rm = rep_cc.select(F.col("image_id").alias("cluster_id"),
                           F.col("cluster_id").alias("root"))
        # is_rep rides along so the id_index delta rows keep the flag's
        # bool_or-across-generations contract: re-labelled OLD members append
        # is_rep=false (their first-appearance row already carries the truth,
        # and rep-ness is immutable); NEW members carry their actual flag
        relab_old = (aff_members.join(F.broadcast(Rm), "cluster_id", "left")
                     .select("image_id",
                             F.coalesce("root", "cluster_id").alias("root"),
                             F.lit(False).alias("is_rep"),
                             F.lit(None).cast("string").alias("rep_id")))
        # every NEW member routes through its rep's label to the merged root
        rep_lab = (new_groups.select("image_id", "rep_id",
                                     (F.col("image_id") == F.col("rep_id"))
                                     .alias("is_rep"))
                   .join(F.broadcast(labels.withColumnRenamed("image_id",
                                                              "rep_id")),
                         "rep_id", "left")
                   .select("image_id",
                           F.coalesce("label", F.col("rep_id"))
                           .alias("cluster_id"), "is_rep", "rep_id"))
        relab_new = (rep_lab.join(F.broadcast(Rm), "cluster_id", "left")
                     .select("image_id",
                             F.coalesce("root", "cluster_id").alias("root"),
                             "is_rep", "rep_id"))
        # min-member normalization over the affected slice only (the rest of
        # the corpus already satisfies cluster_id == min member by induction)
        members = relab_old.unionByName(relab_new)
        norm = members.groupBy("root").agg(F.min("image_id")
                                           .alias("cluster_id"))
        delta, n_delta = checkpoint_rows(
            members.join(F.broadcast(norm), "root")
            .select("image_id", "cluster_id", "is_rep", "rep_id"))
        pipe._record("add_clusters", n_delta, t0, after="add_cc_edges")

        # -- stage the rewritten clusters partitions (touched buckets only)
        #    and the id_index delta — the ck_index delta was staged in the
        #    parallel candidate block and the edge_index delta has been
        #    staging on a side thread since ep_info was cut.  The re-labelled
        #    and new member rows stage at the next id_index generation (LSM
        #    append, latest-gen-wins — no stored index rows are read or
        #    rewritten) ---------------------------------------------------
        t0 = time.time()
        id_tap, id_rows = row_counter()
        spawn(lambda: stage_id_append(delta, new_gen, staging, cfg, id_tap))
        swap = stage_clusters_rewrite(pipe, staging, clusters_stored, aff_cl,
                                      aff_buckets, delta, "add")
    pipe._record("add_index_delta", id_rows(), t0, after="add_clusters")
    finish_commit(spark, pipe.fs, checkpoint_dir, write_manifest(
        pipe, staging, new_gen, swap,
        ["exact_groups", "signatures", "bands", "candidate_pairs",
         "verified_edges"],
        ["ck_index", "id_index", "edge_index"]), pipe._flush_state)
    return (read_layout(spark, checkpoint_dir, "clusters")
            .select("image_id", "cluster_id"))


def _apply_add_commit(fs: CheckpointFS, root: str, manifest: dict) -> None:
    """Execute (or RESUME) a staged mutation commit.  Idempotent: every
    step checks what already happened, so it can re-run after a crash at
    any point — staged stage dirs are deleted once their files move (a
    re-run skips them), and a dir replacement (clusters partition or
    whole table) re-runs only while its staged dir still exists."""
    staging = manifest["staging"]

    def _move_flat(name: str) -> None:
        src = f"{staging}/{name}"
        if fs.exists(src):
            fs.move_children(src, f"{root}/{name}")
            fs.delete(src)

    # hive-partitioned appends (ck_index/id_index): move each staged
    # partition dir's files into the live partition dir, then drop the
    # staged dir so a crashed re-run skips it (same idempotence contract
    # as the flat appends above).  The ~key_buckets partition dirs are
    # independent of each other and each move is 3-4 py4j FS round
    # trips, so the per-dir moves fan out over a small thread pool
    # (guide §2.6 applied to driver-side FS metadata latency); a crash
    # mid-fan-out recovers exactly as before — surviving staged dirs
    # re-move, finished ones were deleted
    def _move_partitioned(name: str) -> None:
        src = f"{staging}/{name}"
        if fs.exists(src):
            def _mv(child: str) -> None:
                cname = child.rsplit("/", 1)[-1]
                if not cname or "=" not in cname:
                    return  # _SUCCESS / hidden markers
                fs.move_children(child, f"{root}/{name}/{cname}")
                fs.delete(child)

            _fanout(_mv, fs.list_children(src))
            fs.delete(src)

    # tables are independent and each move is idempotent, so the
    # per-table rename loops (hundreds of FS metadata calls for the
    # key_buckets-partitioned sidecars) run concurrently; a crash
    # mid-commit recovers exactly as before, table by table
    with chains() as spawn:
        for n in manifest["append_stages"]:
            spawn(lambda n=n: _move_flat(n))
        for n in manifest.get("partitioned_appends", []):
            spawn(lambda n=n: _move_partitioned(n))
    if "id_index_gen" in manifest:
        fs.write_text(f"{root}/{ID_GEN_FILE}",
                      str(manifest["id_index_gen"]))
    swap = {f"{_BUCKET}{p}": has_rows
            for p, has_rows in manifest["clusters_swap"].items()}
    swap.update(manifest.get("replace", {}))

    def _replace(rel: str) -> None:
        staged, live = f"{staging}/{rel}", f"{root}/{rel}"
        if fs.exists(staged):      # not yet replaced
            fs.delete(live)
            if not fs.rename(staged, live):
                raise IOError(f"commit rename failed: {staged} -> {live}")

    # replacements are independent (distinct dirs) and each is 2-3 FS
    # metadata calls; same fan-out as the partitioned moves above, same
    # per-dir crash idempotence (a staged dir present => not replaced).
    # Every rename lands before any delete: a dir with nothing staged
    # (purge's removal sidecars) goes last
    _fanout(_replace, [rel for rel, has_rows in swap.items() if has_rows])
    _fanout(lambda rel: fs.delete(f"{root}/{rel}"),
            [rel for rel, has_rows in swap.items() if not has_rows])


def recover_add_commit(spark: SparkSession, checkpoint_dir: str) -> bool:
    """Roll FORWARD a torn mutation commit (crash after the manifest was
    written but before the commit finished): :func:`finish_commit` on
    the manifest found on disk.  Called automatically at the start of
    every mutation; safe to call any time.  Returns True iff a
    torn commit was found and completed.  A staging dir WITHOUT a
    manifest is pre-commit garbage (the mutation never logically
    happened) and is left for the next mutation to wipe."""
    fs = CheckpointFS(spark, checkpoint_dir)
    mpath = f"{checkpoint_dir}/{ADD_MANIFEST}"
    if not fs.exists(mpath):
        return False
    finish_commit(spark, fs, checkpoint_dir, json.loads(fs.read_text(mpath)))
    return True
