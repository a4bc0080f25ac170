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

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from gsearch_spark.config import PipelineConfig
from gsearch_spark.fs import CheckpointFS
from gsearch_spark.operators.banding import (BANDS_SCHEMA, build_bands,
                                             explode_all_bands)
from gsearch_spark.operators.candidates import (PAIRS_SCHEMA, bucket_stats,
                                                emit_bucket_pairs,
                                                probe_pairs_vs_stored)
from gsearch_spark.operators.cc import connected_components, union_find
from gsearch_spark.operators.exact import (EXACT_GROUPS_SCHEMA, content_keys,
                                           exact_groups, expand_clusters,
                                           representatives)
from gsearch_spark.operators.keyidx import (
    CK_INDEX, CK_SCHEMA, EDGE_INDEX, EDGE_SCHEMA, ID_SCHEMA, key_bucket,
    lookup_ck_index, probe_keys, stage_id_append, write_ck_index,
    write_edge_index, write_id_index)
from gsearch_spark.operators.signatures import (SIGNATURES_SCHEMA,
                                                compute_signatures)
from gsearch_spark.operators.suffix import suffix_candidate_pairs
from gsearch_spark.operators.verify import (attach_payloads, attach_strategy,
                                            pair_phashes, prefilter_pairs,
                                            verified_edges)
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

    @contextmanager
    def _span(self, name: str, after: "str | None" = None,
              skipped: bool = False):
        """Time the body as recorded stage ``name``: the body hands the
        stage's row count to the yielded ``rows(n)``, and the span is
        recorded on exit (``after``: see :meth:`_record`).  The timing
        half of :meth:`_stage`; used alone only where one stage's work
        yields several outputs or its rows are a driver-side set."""
        t0, n = time.time(), []
        yield n.append
        self._record(name, n[0], t0, skipped, after=after)

    def _stage(self, name: str, out, root: "str | None" = None,
               table: "str | None" = None, after: "str | None" = None,
               resume: bool = False,
               read: bool = True) -> "tuple[DataFrame | None, int]":
        """The one stage-and-record step of the build and every
        mutation: materialize stage ``name`` with its row count observed
        on the materializing action (:func:`row_counter`), and record
        it.  ``out`` is the stage's DataFrame, or a callable run inside
        the stage's time — ``out()`` returning the DataFrame when no
        ``root`` is given, else ``out(path, tap)``, which writes
        ``tap(frame)`` itself or returns the DataFrame to write.
        Without ``root`` the frame is cut by an eager localCheckpoint;
        with it, it is written to ``root/table`` (``table`` defaults to
        ``name``) and, unless ``read`` is False, read back with its
        declared layout.  Under ``resume`` a completed ``root/table`` is
        reused, counted by one job (nothing in this run materialized
        it).  Returns the stage's frame (None when not read back) and
        its row count."""
        path = f"{root}/{table or name}"
        skipped = root is not None and resume and self.fs.exists(
            f"{path}/_SUCCESS")
        with self._span(name, after, skipped) as record:
            tap, rows = row_counter()
            if not skipped and callable(out):
                out = out(path, tap) if root is not None else out()
            if root is None:
                df = tap(out).localCheckpoint()
            else:
                if not skipped and out is not None:
                    tap(out).write.mode("overwrite").parquet(path)
                df = read_layout(self.spark, root, table or name) \
                    if read or skipped else None
            n = df.count() if skipped else rows()
            record(n)
        return df, n

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

        # -- stage 0: exact-duplicate collapse (identity short-circuit,
        #    gsearch src/bin/bindash.rs:139-153) ---------------------------
        groups, n_groups = self._stage("exact_groups",
                                       lambda p, tap: exact_groups(images),
                                       self.dir, resume=resume)
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
            if not (resume and self.fs.exists(
                    f"{self._path('candidate_pairs')}/_SUCCESS")):
                sfx_future = spawn(lambda: suffix_candidate_pairs(
                    images_rep).localCheckpoint())

            # -- stage 1: signatures (representatives only) ----------------
            sigs, n_sigs = self._stage(
                "signatures",
                lambda p, tap: compute_signatures(images_rep, self.cfg),
                self.dir, after="exact_groups", resume=resume)
            # sent == received invariant (src/dna/dnasketch.rs:458-464)
            n_reps = nreps_future.result()
            if n_sigs != n_reps:
                raise RuntimeError(
                    f"signature count {n_sigs} != representative count "
                    f"{n_reps} (sent/received reconciliation failed)")

            # -- stage 2: bands --------------------------------------------
            bands, _ = self._stage("bands",
                                   lambda p, tap: build_bands(sigs,
                                                              self.cfg),
                                   self.dir, after="signatures",
                                   resume=resume)

            # -- stage 3: candidate pairs (LSH buckets ∪ suffix pass) ------
            # min(src) dedup => deterministic winner per pair; the suffix
            # pairs have been computing since stage 1
            pairs, n_pairs = self._stage(
                "candidate_pairs",
                lambda p, tap: (emit_bucket_pairs(bands)
                                .unionByName(sfx_future.result())
                                .groupBy("a", "b")
                                .agg(F.min("src").alias("src"))),
                self.dir, after="bands", resume=resume)
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
                "verified_edges",
                lambda p, tap: verified_edges(pairs, images_rep, self.cfg,
                                              n_pairs_hint=n_pairs),
                self.dir, after="candidate_pairs", resume=resume)

            # ck_index depends only on the stage-0 exact_groups checkpoint
            # and edge_index only on the verified_edges checkpoint just
            # written — both writes overlap the clusters stage below
            # (guide §2.6), whose union-find fast path is driver-heavy and
            # leaves executor slots idle.  (Spawning ck_index earlier —
            # under the decode-bound signatures stage — was measured WORSE
            # per-stage: all 32 task slots are busy there, so the sidecar
            # job just queued and its recorded wall inflated 1.6 s → 3.7 s.)
            spawn(lambda: self._stage(
                "ck_index",
                lambda p, tap: write_ck_index(groups, p, self.cfg, tap),
                self.dir, after="exact_groups", resume=resume))
            spawn(lambda: self._stage(
                "edge_index",
                lambda p, tap: write_edge_index(edges, p, self.cfg, tap),
                self.dir, after="verified_edges", resume=resume))

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

            clusters, _ = self._stage("clusters", _w_clusters, self.dir,
                                      after="verified_edges", resume=resume)

            # -- stage 6: key-addressed lookup layouts (operators/keyidx.py).
            #    Sidecar tables whose partitioning + in-file sort make the
            #    append path's membership / label / id-clash probes prune
            #    to O(probed keys) IO instead of scanning corpus-sized key
            #    columns (reference: add addresses its persisted index by
            #    rank, never rescans it — src/dna/dnasketch.rs:106-134).
            #    ck_index and edge_index have been writing on side threads
            #    (guide §2.6) — only the clusters-dependent id_index
            #    remains on the critical path.
            self._stage("id_index",
                        lambda p, tap: write_id_index(clusters, groups, p,
                                                      self.cfg, tap),
                        self.dir, after="clusters", resume=resume)
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
    pb = cluster_pbucket(pipe.cfg)
    touched = sorted(set(aff_buckets) | {
        r[0] for r in delta.select(pb.alias("pb")).distinct().collect()})
    kept = (stored.filter(F.col("pbucket").isin(touched))
            .join(F.broadcast(aff.select("cluster_id")), "cluster_id",
                  "left_anti")
            .select("image_id", "cluster_id"))

    def write(path: str, tap) -> None:
        (tap(kept.unionByName(delta.select("image_id", "cluster_id"))
             .withColumn("pbucket", pb)
             .repartition(max(len(touched), 1), F.col("pbucket")))
         .write.mode("overwrite").partitionBy("pbucket").parquet(path))

    pipe._stage(f"{prefix}_clusters_rewrite", write, staging, "clusters",
                after=f"{prefix}_clusters", read=False)
    # a partitioned write makes a pbucket= dir exactly for the buckets
    # it wrote rows to (a remove that kills every cluster in its touched
    # buckets stages none)
    present = {child.rsplit("/pbucket=", 1)[1] for child in
               pipe.fs.list_children(f"{staging}/clusters")
               if "/pbucket=" in child}
    return {f"{_BUCKET}{p}": str(p) in present for p in touched}


def relabel_min_member(members: DataFrame, key: str, comp: DataFrame,
                       keep: "tuple[str, ...]" = ()) -> DataFrame:
    """The add's and the remove's relabel-and-normalize step: route each
    ``members`` row (``image_id``, ``key``, *``keep``) through the
    connected components ``comp`` (``image_id`` -> ``cluster_id`` root,
    over ``key`` values; a key on no edge is its own root), then label
    every root's members with their minimum ``image_id`` — over the
    affected slice only, since the rest of the corpus already satisfies
    cluster_id == min member by induction.  Returns (``image_id``,
    ``cluster_id``, *``keep``)."""
    roots = comp.select(F.col("image_id").alias(key),
                        F.col("cluster_id").alias("root"))
    relab = (members.join(F.broadcast(roots), key, "left")
             .select("image_id", F.coalesce("root", key).alias("root"),
                     *keep))
    norm = relab.groupBy("root").agg(F.min("image_id").alias("cluster_id"))
    return (relab.join(F.broadcast(norm), "root")
            .select("image_id", "cluster_id", *keep))


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
    ``:405,427-433``) — old nodes are never rebuilt.  Here the config
    reloads from the checkpoint and must hash-match
    (:func:`mutation_prologue`), and the add runs as phases inside one
    :func:`chains` scope — setup probes (:func:`_add_setup`), exact
    grouping (:func:`_add_exact_groups`), candidates
    (:func:`_add_candidates`), verify (:func:`_add_verify`), the CC tail
    (:func:`_driver_tail` / :func:`_frame_tail`, then
    :func:`_add_clusters`) and the staged commit (:func:`_add_commit`).
    Stored metadata is only ever read by pruned point lookups into the
    key-addressed layouts (operators/keyidx.py), never scanned; only
    genuinely new representatives are decoded and sketched; removed
    images stay removed (the removal sidecars apply on every add).

    Per-add IO and decode cost are O(new); per-stage delta row counts
    land in pipeline_state under ``add_*`` stage names (the O(new)
    contract is asserted in tests/test_incremental_add.py).  Clusters
    equal a from-scratch rebuild over old ∪ new.  The commit is
    manifest-protected: a crash leaves either pre-manifest staging (the
    add never happened) or a torn commit that the next mutation's
    :func:`recover_add_commit` rolls FORWARD.  The reference's ``add``
    is likewise insert-only with no corpus-sized post-pass
    (src/dna/dnasketch.rs:106-134) but offers no torn-commit recovery.

    Mutation is SINGLE-WRITER: the add runs under
    :func:`add_writer_lock`, taken before reading any state, and
    refuses (:class:`ConcurrentAddError`) while another writer holds
    it.  Dead same-host holders self-heal; a stale cross-host lock is
    broken explicitly with the ``unlock`` subcommand.  Re-entrant under
    an enclosing :func:`add_writer_lock` (how the CLI and the streaming
    sink hold one lock across payload-append + add).

    ``all_images`` must be old ∪ new minus removed rows (verify needs
    both sides' payloads; at scale, back it with a table whose layout
    supports id lookups — Iceberg bucket pruning — so the payload attach
    reads only candidate row groups).  Refused with ValueError, before
    anything is staged: a new id already in the build, an
    ``all_images`` that lacks a new row or still holds a removed row
    under a new row's phash; and, once the candidates are known, one
    that lacks a payload a candidate pair needs.  Only rows the add
    reads are checked: a stored rep missing from ``all_images`` that
    only the suffix pass would pair with a new row (a hot phash group
    whose stored-band probe heads hold other reps) goes unseen, and the
    add then misses that pair.  Returns the new clusters DataFrame.
    """
    pipe = NearDupPipeline(spark, cfg, checkpoint_dir)
    staging, new_gen = mutation_prologue(
        pipe, ("ck_index", "id_index", "edge_index"))
    with chains() as spawn:
        a, nk, old_keys, touched = _add_setup(pipe, spawn, staging,
                                              new_images, all_images)
        new_groups, new_reps, matched_reps, mr_future = _add_exact_groups(
            a, nk, old_keys)
        new_pairs, n_pairs = _add_candidates(a, new_groups, new_reps,
                                             touched)
        new_edges, ep_future = _add_verify(a, new_pairs, n_pairs, new_reps,
                                           mr_future)
        prefetch = ep_future.result()
        labels, comp, aff, aff_buckets = (
            _driver_tail(a, new_edges, prefetch) if prefetch is not None
            else _frame_tail(a, new_edges, matched_reps))
        delta = _add_clusters(a, new_groups, labels, comp, aff, aff_buckets)
        swap = _add_commit(a, new_gen, delta, aff, aff_buckets)
    finish_commit(spark, pipe.fs, checkpoint_dir, write_manifest(
        pipe, staging, new_gen, swap,
        ["exact_groups", "signatures", "bands", "candidate_pairs",
         "verified_edges"],
        ["ck_index", "id_index", "edge_index"]), pipe._flush_state)
    return (read_layout(spark, checkpoint_dir, "clusters")
            .select("image_id", "cluster_id"))


_UNION_ERROR = "all_images must be exactly old ∪ new (minus removed rows)"


@dataclass
class _Add:
    """What the add's phases share: the pipeline, the :func:`chains`
    scope's ``spawn``, the staging dir, the cut new slice and its size,
    the caller's payload table, and the stored tables and removal state
    the setup opened — one file listing each serves the whole add (the
    tables don't change until the add's own commit)."""
    pipe: NearDupPipeline
    spark: SparkSession
    cfg: PipelineConfig
    spawn: Callable
    staging: str
    new_images: DataFrame
    n_new: int
    all_images: DataFrame
    bands: DataFrame
    clusters: DataFrame
    ck_idx: DataFrame
    id_idx: DataFrame
    dead: DataFrame
    remap: DataFrame

    def lookup_ids(self, ids: DataFrame) -> DataFrame:
        """Pruned id_index point lookup of ``ids`` (image_id)."""
        from gsearch_spark.operators.keyidx import lookup_id_index
        return lookup_id_index(self.spark, self.pipe._path("id_index"), ids,
                               self.cfg, idx_df=self.id_idx)


def _add_setup(pipe: NearDupPipeline, spawn, staging: str,
               new_images: DataFrame, all_images: DataFrame):
    """Setup probes.  The stored-table handles are driver-side FILE-INDEX
    LISTINGS (the partitioned sidecars list ~key_buckets dirs each), the
    removal state is more FS probes, and the new slice's one-time
    lineage cut is a small job — all independent, so they run as ONE
    concurrent wave (guide §2.6; measured ~4 s serial at bench scale).
    The cut is localCheckpoint (NOT persist; the documented
    plan-cache-over-rewritten-path pitfall), O(new) bytes, consumed by
    ~8 downstream plans.  The merge-on-read removal sidecars
    (operators/remove.py) apply on every add: without removals they are
    empty local relations and the optimizer folds their joins out.

    Then three independent probe chains run CONCURRENTLY: the touched
    prefix (:func:`_touched_prefix`, which also checks the union, then
    :func:`_touched_reps`), the id-clash refusal and the new slice's
    content keys with their ck membership probe; both refusals are
    awaited here, before anything is staged.  Every stored-metadata
    probe is a PRUNED point lookup into ck_index / id_index (partition
    filter from the probe keys' bucket set + IN-list row-group pruning
    on key-sorted files — the add addresses its persisted index by key,
    as the reference's does by rank, src/dna/dnasketch.rs:106-134).
    Returns the add's context, the new slice's content keys, their live
    stored groups and the future of the touched slice and its stored
    reps."""
    from gsearch_spark.operators.remove import drop_dead, read_removal_state
    spark, cfg = pipe.spark, pipe.cfg
    opened = [spawn(lambda n=n: read_layout(spark, pipe.dir, n))
              for n in ("bands", "clusters", "ck_index", "id_index")] + [
        spawn(lambda: read_removal_state(spark, pipe.dir))]
    new_images, n_new = checkpoint_rows(new_images)
    a = _Add(pipe, spark, cfg, spawn, staging, new_images, n_new,
             all_images, *[f.result() for f in opened[:4]],
             *opened[4].result())
    touched = spawn(lambda: _touched_prefix(a))
    reps = spawn(lambda: _touched_reps(a, touched.result()))
    # id-clash refusal: O(new) pruned point lookup, not a corpus scan
    clash = spawn(lambda: pipe._stage(
        "add_lookup_idclash",
        lambda: a.lookup_ids(new_images.select("image_id")))[1])
    # the ck-membership probe is read-only, safe to overlap the refusal
    # checks (staging mutation only starts after they validate).  A
    # fully-removed exact-group's ck row lingers until compaction;
    # re-added identical content must read as FRESH, not resurrect the
    # dead group node
    nk = content_keys(new_images).localCheckpoint()
    old_keys, _ = pipe._stage("add_lookup_ck", lambda: drop_dead(
        lookup_ck_index(spark, pipe._path("ck_index"), nk.select("ck"), cfg,
                        idx_df=a.ck_idx), "rep_id", a.dead))
    if clash.result():
        raise ValueError("new_images contains ids already in the build")
    touched.result()
    return a, nk, old_keys, reps


def _touched_prefix(a: _Add) -> DataFrame:
    """Touched phash groups for the suffix pass.  The slice is keyed by
    the NEW images' phashes — a superset of the new REPS' phashes (a new
    non-rep's pixels equal its dup's pixels, hence its phash), and the
    suffix tail filters pairs to new-rep endpoints, so the superset
    changes nothing downstream while this chain overlaps the setup
    lookups instead of waiting for exact grouping.  The slice is a
    key-set probe of the payload table (keyidx.probe_keys): a few
    touched phashes push down as an IN-list so parquet row-group stats
    prune the payload scan.  Its eager cut (O(touched) keys+caption
    rows) feeds the union check, the rep-ness lookup and the suffix
    input join.

    The union check runs here, over rows the add reads anyway: the
    slice is every ``all_images`` row under a new row's phash, so it
    must hold each new row exactly once, and no tombstoned row (the
    suffix pass would pair it).  Returns the slice."""
    from gsearch_spark.operators.remove import read_tombstones
    touched = (probe_keys(a.all_images, "phash",
                          a.new_images.select("phash"))
               .select("phash", "image_id", "caption").localCheckpoint())
    tomb = read_tombstones(a.spark, a.pipe.dir).select(
        "image_id", F.lit(True).alias("dead"))
    n_new, n_dead = (
        touched.select("image_id")
        .join(a.new_images.select("image_id", F.lit(True).alias("new")),
              "image_id", "left")
        .join(tomb, "image_id", "left")
        .agg(F.count("new"), F.count("dead")).collect()[0])
    if n_new != a.n_new or n_dead:
        raise ValueError(f"{_UNION_ERROR}: {a.n_new} new rows, {n_new} "
                         f"found in it; {n_dead} removed rows in it")
    return touched


def _touched_reps(a: _Add, touched: DataFrame
                  ) -> "tuple[DataFrame, DataFrame]":
    """Rep-ness of the touched slice, from a pruned id_index point
    lookup (is_rep flag); a group whose founding rep was removed has NO
    live is_rep row, so its promoted surviving member (rep_remap target)
    stands in as the group's suffix-pass node.  Returns the slice and
    its stored reps (``add_lookup_touched_reps``)."""
    def stored_reps() -> DataFrame:
        lk = a.lookup_ids(touched.select("image_id"))
        promoted = lk.join(F.broadcast(a.remap.select(
            F.col("new_rep").alias("image_id"))), "image_id", "left_semi")
        return (lk.filter(F.col("is_rep")).select("image_id")
                .unionByName(promoted.select("image_id")).distinct())

    return touched, a.pipe._stage("add_lookup_touched_reps",
                                  stored_reps)[0]


def _add_exact_groups(a: _Add, nk: DataFrame, old_keys: DataFrame):
    """Exact grouping of the new slice against the stored content keys
    (no old bytes touched).  A new row whose content matches a live
    stored group becomes a MEMBER of that group's existing
    representative (rank continuation: a rep keeps its identity even if
    a lexicographically smaller duplicate arrives later — the CC tail
    min-member-normalizes labels so clusters still equal a rebuild's).
    The same skew-immune form as the build's exact_groups (a bulk append
    can carry a viral bomb too): min-per-ck via groupBy gets map-side
    combine, the join-back is AQE-skew-splittable.  Stages
    ``add_exact_groups``; returns it, its new reps (the only rows to
    sketch), the matched stored reps (old groups gaining members) and
    the future of their driver collect — spawned under the whole
    sketch/band/verify phase, and only when its ``n_new`` rows fit the
    driver budget (past it every tail is the distributed one)."""
    matched = (nk.join(F.broadcast(old_keys), "ck")
               .select("image_id", "rep_id", "ck"))
    fresh_keys = nk.join(F.broadcast(old_keys.select("ck")), "ck",
                         "left_anti")
    fresh_reps = (fresh_keys.groupBy("ck")
                  .agg(F.min("image_id").alias("rep_id")))
    fresh = (fresh_keys.join(fresh_reps, "ck")
             .select("image_id", "rep_id", "ck"))
    new_groups, _ = a.pipe._stage("add_exact_groups",
                                  matched.unionByName(fresh), a.staging,
                                  "exact_groups")
    new_reps = (new_groups.filter(F.col("image_id") == F.col("rep_id"))
                .select("image_id"))
    matched_reps = (new_groups
                    .join(a.new_images.select(F.col("image_id")
                                              .alias("rep_id")),
                          "rep_id", "left_anti")
                    .select("rep_id").distinct())
    mr_future = a.spawn(lambda: (
        sorted(r["rep_id"] for r in matched_reps.collect()),
        {r["old_rep"]: r["new_rep"] for r in a.remap.collect()})) \
        if a.n_new <= a.cfg.add_cc_local_max_edges else None
    return new_groups, new_reps, matched_reps, mr_future


def _add_candidates(a: _Add, new_groups: DataFrame, new_reps: DataFrame,
                    touched) -> "tuple[DataFrame, int]":
    """Candidates = new-vs-new (the salted bucket self-join over the new
    slice only) ∪ new-vs-old (bounded probe join against the stored
    bands, :func:`probe_pairs_vs_stored`) ∪ the suffix pass over ONLY
    the phash groups a new rep touches.  The touched-suffix chain and
    the ck_index delta depend only on the staged groups and run
    CONCURRENTLY with the sketch -> band chain (guide §2.6); the suffix
    chain does not need the new signatures, so it overlaps the
    decode+sketch stage too.  Each branch is cut with an eager
    localCheckpoint before the union: the branches build near-identical
    exchanges over the same staged inputs, and Spark's AQE exchange
    reuse across union arms produced mismatched coalesced partitionings
    inside one codegen'd join ("Can't zip RDDs with unequal numbers of
    partitions", reproduced at 32 cores / 213k rows).  Stages
    ``add_signatures``, ``add_bands`` and ``add_candidate_pairs``
    (deduplicated by min(src) per pair); returns the last and its
    rows."""
    from gsearch_spark.operators.remove import pair_fix
    pipe, cfg, staging = a.pipe, a.cfg, a.staging
    sfx = a.spawn(lambda: _touched_suffix_pairs(*touched.result(),
                                                new_reps))
    a.spawn(lambda: write_ck_index(new_groups, f"{staging}/{CK_INDEX}",
                                   cfg))
    to_sketch = a.new_images.join(new_reps, "image_id", "left_semi")
    new_sigs, _ = pipe._stage("add_signatures",
                              compute_signatures(to_sketch, cfg), staging,
                              "signatures", after="add_exact_groups")
    # stored bands stay keyed by founding group nodes until purge: pairs
    # against a DEAD group's node are content that no longer exists
    # (drop), and pairs against a tombstoned founding whose group
    # survives re-point at the promoted surviving member so verify
    # attaches live payloads
    vs_old = a.spawn(lambda: pair_fix(
        probe_pairs_vs_stored(explode_all_bands(new_sigs, cfg), a.bands),
        a.dead, a.remap, ["src"]).localCheckpoint())
    new_bands, _ = pipe._stage("add_bands", build_bands(new_sigs, cfg),
                               staging, "bands", after="add_signatures")
    vs_new = emit_bucket_pairs(new_bands).localCheckpoint()
    return pipe._stage("add_candidate_pairs",
                       vs_new.unionByName(vs_old.result())
                       .unionByName(sfx.result())
                       .groupBy("a", "b").agg(F.min("src").alias("src")),
                       staging, "candidate_pairs", after="add_bands")


def _touched_suffix_pairs(touched: DataFrame, stored_reps: DataFrame,
                          new_reps: DataFrame) -> DataFrame:
    """Suffix-pass pairs among the touched groups' reps with a new-rep
    endpoint.  Both cuts dodge the AQE exchange-reuse zip bug: at bulk
    append sizes the rep-ness lookup takes the semi-join fallback and
    the reps subtree's exchanges get reused by both union arms
    (reproduced at a 10% append), and ``sfx`` feeds both arms."""
    reps = (touched.join(stored_reps.unionByName(new_reps), "image_id",
                         "left_semi").localCheckpoint())
    sfx = suffix_candidate_pairs(reps).localCheckpoint()
    return (sfx.join(new_reps.withColumnRenamed("image_id", "a"), "a",
                     "left_semi")
            .unionByName(sfx.join(new_reps.withColumnRenamed("image_id",
                                                             "b"),
                                  "b", "left_semi"))
            .dropDuplicates(["a", "b"])).localCheckpoint()


def _add_verify(a: _Add, new_pairs: DataFrame, n_pairs: int,
                new_reps: DataFrame, mr_future):
    """Verify decodes only new-touching pairs, capped per new item
    (cfg.add_max_candidates_per_item) after the phash prefilter.  The
    prefilter's metadata join is cut by its own eager checkpoint, which
    counts it in the job's result stage (a count in a map stage can
    double on a stage retry): every candidate pair must keep both
    endpoints there — its inner join would silently drop a pair whose
    payload ``all_images`` lacks.  The capped pairs are an eager cut
    (O(new x cap) keys-only rows), since the subtree otherwise evaluates
    twice, as the attach's id set and as its pair side (guide §2.4);
    the attach materializes the candidate payload slice once (guide §8:
    move heavy bytes once), its strategy bounded by 2 x new x cap
    distinct ids.  The endpoint-label prefetch
    (:func:`_ep_prefetch`) runs under the verify stage.  Stages
    ``add_verified_edges``; returns it and the prefetch future."""
    # imported per call: tests substitute a failing verify_pairs
    from gsearch_spark.operators.verify import verify_pairs
    cfg = a.cfg
    with_ph, n_joined = checkpoint_rows(pair_phashes(new_pairs,
                                                     a.all_images))
    if n_joined != n_pairs:
        raise ValueError(f"{_UNION_ERROR}: {n_pairs} candidate pairs, "
                         f"{n_joined} with both payloads")
    plausible = prefilter_pairs(with_ph, cfg.prefilter_max_phash_hamming,
                                cfg.prefilter_max_phash_hamming_phash_src)
    a_new = F.coalesce("a_new", F.lit(False))
    keyed = (plausible
             .join(new_reps.select(F.col("image_id").alias("a"),
                                   F.lit(True).alias("a_new")), "a", "left")
             .withColumn("key", F.when(a_new, F.col("a"))
                         .otherwise(F.col("b")))
             .withColumn("other", F.when(a_new, F.col("b"))
                         .otherwise(F.col("a"))))
    capped, n_cap = checkpoint_rows(
        keyed.withColumn("rn", F.row_number().over(
            Window.partitionBy("key").orderBy("other")))
        .filter(F.col("rn") <= cfg.add_max_candidates_per_item)
        .select("a", "b", "src"))
    attached = attach_payloads(
        capped, a.all_images,
        strategy=attach_strategy(
            cfg, 2 * a.n_new * cfg.add_max_candidates_per_item),
        materialize_slim=True)
    ep_future = a.spawn(lambda: _ep_prefetch(a, capped, n_cap, mr_future))
    new_edges, _ = a.pipe._stage(
        "add_verified_edges",
        verify_pairs(attached, cfg).filter(F.col("dup"))
        .select("a", "b", "src", "psnr", "caption_eq"),
        a.staging, "verified_edges", after="add_candidate_pairs")
    return new_edges, ep_future


def _ep_prefetch(a: _Add, capped: DataFrame, n_cap: int, mr_future):
    """PREFETCH the driver tail's endpoint-label lookup under the verify
    stage (guide §2.6): every verified edge endpoint is an endpoint of
    ``capped`` (edges = verify(capped) filtered), and the matched reps'
    promoted members are known from their collect — so the pruned
    id_index lookup can run now, off the critical path, on the
    (slightly larger) capped-endpoint superset.  This is the add tail's
    ONE gate: 2·|capped| + n_new bounds every set the driver tail
    collects, and past ``cfg.add_cc_local_max_edges`` it returns None
    and the add takes the distributed tail.  Probing a superset only
    ADDS rows for ids the tail then filters out."""
    if mr_future is None:
        return None
    mr_list, remap = mr_future.result()
    if (2 * n_cap + a.n_new) > a.cfg.add_cc_local_max_edges:
        return None  # collect would blow the driver budget
    lreps = sorted({remap.get(r, r) for r in mr_list})
    probe = (capped.select(F.col("a").alias("image_id"))
             .unionByName(capped.select(F.col("b").alias("image_id")))
             .distinct())
    if lreps:
        probe = probe.unionByName(local_frame(
            a.spark, [(i,) for i in lreps], "image_id string")).distinct()
    from gsearch_spark.operators.keyidx import lookup_id_index
    rows = lookup_id_index(a.spark, a.pipe._path("id_index"), probe, a.cfg,
                           idx_df=a.id_idx).collect()
    return mr_list, remap, rows


def _stage_edge_delta(a: _Add, new_edges: DataFrame,
                      ep_info: DataFrame) -> None:
    """Stage the dedup graph's edge delta for the remove path's split
    recomputation: endpoints translated to their FOUNDING group nodes
    (old endpoints via the ``ep_info`` point lookup, new reps are their
    own founding node), canonical a < b, intra-group self-loops
    dropped.  Runs on a side thread, overlapping the labels -> CC ->
    delta chain."""
    founding = ep_info.select("image_id", "rep_id")
    fedges = (new_edges.select("a", "b")
              .join(F.broadcast(founding.toDF("a", "fa")), "a", "left")
              .join(F.broadcast(founding.toDF("b", "fb")), "b", "left")
              .select(F.coalesce("fa", F.col("a")).alias("na"),
                      F.coalesce("fb", F.col("b")).alias("nb"))
              .filter(F.col("na") != F.col("nb"))
              .select(F.least("na", "nb").alias("a"),
                      F.greatest("na", "nb").alias("b"))
              .distinct())
    write_edge_index(fedges, f"{a.staging}/{EDGE_INDEX}", a.cfg)


# -- the CC tail: clusters update INCREMENTALLY by contraction.  The
# stored clusters checkpoint IS the connected components of all stored
# edges, so contracting every old component to its label preserves
# connectivity exactly: CC runs over the LABEL-level image of the new
# verified edges only (O(|new edges|), recorded as add_cc_edges), never
# over the stored edge set, which the add does not even read.  Endpoint
# labels come from a pruned id_index point lookup.  Affected clusters =
# merged stored labels ∪ clusters whose exact groups gained members
# (their min MEMBER id — the label under the rebuild-normalization
# contract — may change).  Both tails return the same four things:
# labels (image_id -> label), the label-graph components, the affected
# labels (cluster_id) and their pbuckets.

def _driver_tail(a: _Add, new_edges: DataFrame, prefetch):
    """DRIVER tail (guide §2.6 taken to its limit), taken whenever the
    endpoint prefetch came back: the labels -> contracted-CC ->
    affected-set algebra works on sets bounded by O(new edges + new
    rows) — the magnitude the union-find fast path always collected —
    yet the DataFrame form pays ~5 small jobs of latency.  The
    prefetched rows, the matched reps and the staged edge list are on
    the driver, and plain dict/set algebra replaces the join chain —
    provably the same maps: get(x, x) IS coalesce over a left join, the
    set comprehension IS the distinct union."""
    mr_list, remap, super_rows = prefetch
    # a matched group's founding rep may be tombstoned (group alive):
    # its own id_index label is a stale null-or-old row, so the LABEL is
    # read through the promoted surviving member (lrep), while group
    # identity stays the founding node
    mr_pairs = [(r, remap.get(r, r)) for r in mr_list]
    with a.pipe._span("add_lookup_labels",
                      after="add_verified_edges") as rows:
        edge_rows = [(r["a"], r["b"]) for r in
                     new_edges.select("a", "b").collect()]
        ep_ids = ({x for x, _ in edge_rows} | {y for _, y in edge_rows}
                  | {lrep for _, lrep in mr_pairs})
        # prefetched superset (capped endpoints ∪ lreps) ⊇ ep_ids:
        # restricting the collected rows IS the direct lookup
        ep_rows = [r for r in super_rows if r["image_id"] in ep_ids]
        ep_info = local_frame(a.spark, ep_rows, "image_id string, "
                              "cluster_id string, is_rep boolean, "
                              "rep_id string")
        a.spawn(lambda: _stage_edge_delta(a, new_edges, ep_info))
        # a NULL cluster_id (a "stale null-or-old row") must behave like
        # an ABSENT label, as coalesce(label, id) treats it in the
        # distributed tail
        labels_live = {r["image_id"]: r["cluster_id"] for r in ep_rows
                       if r["cluster_id"] is not None}
        labels_map = dict(labels_live)
        for rep, lrep in mr_pairs:
            if lrep in labels_live:  # inner-join semantics
                labels_map[rep] = labels_live[lrep]
        rows(len(labels_map))
    with a.pipe._span("add_cc_edges", after="add_verified_edges") as rows:
        le_set = {(lx, ly) for lx, ly in
                  ((labels_map.get(x, x), labels_map.get(y, y))
                   for x, y in edge_rows) if lx != ly}
        rows(len(le_set))
    mapping = union_find(sorted(le_set))
    stored_labels = set(labels_map.values())
    aff_set = {lab for lab in mapping if lab in stored_labels}
    aff_set |= {labels_map[r] for r in mr_list if r in labels_map}
    aff = local_frame(a.spark, [(lab,) for lab in sorted(aff_set)],
                      "cluster_id string")
    # bucket ids via the SAME Spark hash expression the layout uses
    # (xxhash64 is not reimplemented driver-side); a projection of a
    # local relation folds into it and runs no job
    buckets = sorted({r["pb"] for r in
                      aff.select(cluster_pbucket(a.cfg).alias("pb"))
                      .collect()})
    return (local_frame(a.spark, sorted(labels_map.items()),
                        "image_id string, label string"),
            local_frame(a.spark, sorted(mapping.items()),
                        "image_id string, cluster_id string"),
            aff, buckets)


def _frame_tail(a: _Add, new_edges: DataFrame, matched_reps: DataFrame):
    """DISTRIBUTED tail, for adds past the driver budget: the same
    algebra as :func:`_driver_tail` as DataFrame jobs, with the CC on
    :func:`cc_roots`."""
    from gsearch_spark.operators.remove import remap_col

    def labels() -> DataFrame:
        # endpoint labels and founding nodes: pruned point lookup,
        # O(new edges + matched reps) rows; a matched group's founding
        # rep may be tombstoned (group alive), so its label is read
        # through the promoted surviving member
        ep_info = a.lookup_ids(
            new_edges.select(F.col("a").alias("image_id"))
            .unionByName(new_edges.select(F.col("b").alias("image_id")))
            .unionByName(remap_col(matched_reps, "rep_id", a.remap)
                         .select(F.col("rep_id").alias("image_id")))
            .distinct()).localCheckpoint()
        a.spawn(lambda: _stage_edge_delta(a, new_edges, ep_info))
        live = ep_info.select("image_id", F.col("cluster_id").alias("label"))
        promoted = (matched_reps
                    .join(F.broadcast(a.remap.withColumnRenamed(
                        "old_rep", "rep_id")), "rep_id")
                    .join(live.withColumnRenamed("image_id", "new_rep"),
                          "new_rep")
                    .select(F.col("rep_id").alias("image_id"), "label"))
        return live.unionByName(promoted)

    labels, _ = a.pipe._stage("add_lookup_labels", labels,
                              after="add_verified_edges")
    label_edges, n_label_edges = a.pipe._stage(
        "add_cc_edges",
        new_edges.select("a", "b")
        .join(F.broadcast(labels.toDF("a", "la")), "a", "left")
        .join(F.broadcast(labels.toDF("b", "lb")), "b", "left")
        .select(F.coalesce("la", F.col("a")).alias("a"),
                F.coalesce("lb", F.col("b")).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(), after="add_verified_edges")
    comp = cc_roots(label_edges, n_label_edges, a.cfg)
    aff = (comp.select(F.col("image_id").alias("label"))
           .join(labels.select("label").distinct(), "label", "left_semi")
           .unionByName(matched_reps
                        .join(labels.withColumnRenamed("image_id",
                                                       "rep_id"), "rep_id")
                        .select("label"))
           .distinct().localCheckpoint())
    buckets = sorted(r[0] for r in aff.select(cluster_pbucket(a.cfg,
                                                              "label"))
                     .distinct().collect())
    return labels, comp, aff.withColumnRenamed("label", "cluster_id"), buckets


def _add_clusters(a: _Add, new_groups: DataFrame, labels: DataFrame,
                  comp: DataFrame, aff: DataFrame,
                  aff_buckets: "list[int]") -> DataFrame:
    """The clusters delta (``add_clusters``): the affected clusters'
    member rows, read under pbucket pruning, and every new member routed
    through its rep's label, relabelled through the label-graph
    components and min-member-normalized (:func:`relabel_min_member`).
    ``is_rep`` rides along so the id_index delta keeps the flag's
    bool_or-across-generations contract: re-labelled OLD members append
    is_rep=false (their first-appearance row already carries the truth,
    and rep-ness is immutable); NEW members carry their actual flag."""
    def delta() -> DataFrame:
        old = (a.clusters.filter(F.col("pbucket").isin(aff_buckets))
               .join(F.broadcast(aff), "cluster_id")
               .select("image_id", "cluster_id",
                       F.lit(False).alias("is_rep"),
                       F.lit(None).cast("string").alias("rep_id")))
        new = (new_groups.select("image_id", "rep_id",
                                 (F.col("image_id") == F.col("rep_id"))
                                 .alias("is_rep"))
               .join(F.broadcast(labels.withColumnRenamed("image_id",
                                                          "rep_id")),
                     "rep_id", "left")
               .select("image_id",
                       F.coalesce("label", F.col("rep_id"))
                       .alias("cluster_id"), "is_rep", "rep_id"))
        return relabel_min_member(old.unionByName(new), "cluster_id", comp,
                                  ("is_rep", "rep_id"))

    return a.pipe._stage("add_clusters", delta, after="add_cc_edges")[0]


def _add_commit(a: _Add, new_gen: int, delta: DataFrame, aff: DataFrame,
                aff_buckets: "list[int]") -> "dict[str, bool]":
    """Stage the rewritten clusters partitions (touched buckets only,
    :func:`stage_clusters_rewrite`) and, concurrently, the id_index
    delta at the next generation (LSM append, latest-gen-wins — no
    stored index rows are read or rewritten; ``add_index_delta``).  The
    ck_index delta was staged in the candidates phase and the edge_index
    delta on a side thread of the tail.  Returns the manifest's swap
    map."""
    a.spawn(lambda: a.pipe._stage(
        "add_index_delta",
        lambda p, tap: stage_id_append(delta, new_gen, a.staging, a.cfg,
                                       tap),
        a.staging, "id_index", after="add_clusters", read=False))
    return stage_clusters_rewrite(a.pipe, a.staging, a.clusters, aff,
                                  aff_buckets, delta, "add")


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
