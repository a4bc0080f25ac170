"""The two workloads, each a closed loop with one client.

``build``  fresh ``NearDupPipeline.run(resume=False)`` builds of a seeded
           images table, each followed by ``REQUESTS`` ``request``
           calls against the new build.
``mutate`` cycles of ``incremental_add`` -> ``remove_images`` ->
           ``REQUESTS`` ``request`` calls on a throwaway copy of a
           stored build.

With ``trace`` set, a run also replays the layers one at a time under
their own Spark job groups and reports per-layer metrics (README.md).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import pyarrow.parquet as pq

from perfbench import inputs, probes

K = 5
MIN_RECALL = 0.99
REQUESTS = 2    # requests per cycle (README: "Why no gated query metric")

BUILD_STAGES = ("exact_groups", "signatures", "bands", "candidate_pairs",
                "verified_edges", "clusters", "ck_index", "edge_index",
                "id_index")
LAYERS = ("exact", "signatures", "banding", "suffix", "candidates",
          "verify", "cc", "keyidx")
PY_LAYERS = ("signatures", "suffix", "verify")
ADD_STAGES = ("add_lookup_idclash", "add_lookup_ck",
              "add_lookup_touched_reps", "add_exact_groups",
              "add_signatures", "add_bands", "add_candidate_pairs",
              "add_verified_edges", "add_lookup_labels", "add_cc_edges",
              "add_clusters", "add_clusters_rewrite", "add_index_delta")
RM_STAGES = ("rm_lookup_ids", "rm_members", "rm_cc_edges", "rm_clusters",
             "rm_clusters_rewrite")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """State of one benchmark run: the op ledger, latency samples, the
    exact-count fingerprint and the per-layer table."""

    def __init__(self, spark, cfg, seed: int, seconds: float, trace: bool,
                 work: str, cores: int, layer_names: "list[str]"):
        self.spark, self.cfg = spark, cfg
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work, self.cores = work, cores
        self.jvm = probes.jvm_pid(spark)
        self.groups = probes.JobGroups(spark, detailed=trace)
        self.fs = probes.FSCalls()
        self.attempted = 0
        self.failed = 0
        self._op_failed = True
        self.problems: "list[str]" = []
        self.samples: "dict[str, list[float]]" = defaultdict(list)
        self.fingerprint: "dict[str, object]" = {}
        self.layer: "dict[str, float]" = {n: 0.0 for n in layer_names}
        self.e2e: "dict[str, float]" = {}
        self.by_name: "dict[str, dict[str, object]]" = {}
        self.info: "dict[str, object]" = {}
        self.false_merges = 0
        self.leaks = 0
        self.planted_hits = 0
        self.planted_total = 0

    # -- op ledger ------------------------------------------------------

    def op(self, kind: str, fn, group: "str | None" = None):
        """Time one operation of the closed loop (its result is consumed
        inside ``fn``).  Returns (wall_s, result, group stats or None),
        or None when the op raised; either way it counts as attempted."""
        self.attempted += 1
        self._op_failed = False
        t0 = time.perf_counter()
        try:
            if group is None:
                out, stats = fn(), None
            else:
                with self.groups.group(group) as gid:
                    out = fn()
                stats = gid
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{kind} raised")
            return None
        wall = time.perf_counter() - t0
        if stats is not None:
            stats = self.groups.stats(stats)
        self.samples[kind].append(wall)
        return wall, out, stats

    def fail(self, why: str) -> None:
        """A failed check fails the op it belongs to (once)."""
        self.problems.append(why)
        if not self._op_failed:
            self.failed += 1
            self._op_failed = True

    def check(self, ok: bool, why: str) -> None:
        if not ok:
            self.fail(why)

    # -- shared steps ---------------------------------------------------

    def request(self, ckpt: str, batch, planted: "dict[str, str]",
                cluster_of: "dict[str, str]", dead: "set[str]"):
        """One ``request`` call, consumed by collect.  Checks that each
        planted probe finds a top-k answer in its source's cluster and
        that no answer is a removed id."""
        from gsearch_spark.operators.request import request
        probes_df = self.spark.createDataFrame(batch)
        res = self.op("query", lambda: request(self.spark, ckpt, probes_df,
                                                k=K).collect(),
                      group="request")
        if res is None:
            return None
        wall, rows, stats = res
        self.samples["request.jobs"].append(stats["jobs"])
        self.fingerprint["query.jobs"] = int(stats["jobs"])
        answers: "dict[str, set[str]]" = defaultdict(set)
        for r in rows:
            answers[r["query_id"]].add(r["target_id"])
        leaked = {t for ts in answers.values() for t in ts} & dead
        self.leaks += len(leaked)
        self.check(not leaked, f"query: removed ids answered {leaked}")
        for q, src in planted.items():
            want = cluster_of.get(src)
            got = {cluster_of.get(t) for t in answers.get(q, ())}
            self.planted_total += 1
            self.planted_hits += want in got
            self.check(want in got, f"query: planted {q} missed source {src}")
        return wall

    def name(self, metric: str, value, unit: str,
             samples: "int | None" = None) -> None:
        """Report a metric of the design by its own name in the details
        line (these are not gated; the gated ones are in ``e2e``)."""
        self.by_name[metric] = {"value": value, "unit": unit}
        if samples is not None:
            self.by_name[metric]["samples"] = samples

    def finish(self) -> None:
        failed_frac = self.failed / self.attempted if self.attempted else 1.0
        self.layer["check.false_merges"] = float(self.false_merges)
        self.layer["check.tombstone_leaks"] = float(self.leaks)
        self.layer["check.failed_ops_frac"] = failed_frac
        self.layer["keyidx.lookup_s"] = median(self.samples["keyidx.lookup"])
        self.layer["request.jobs_per_call"] = median(
            self.samples["request.jobs"])
        queries = self.samples["query"]
        self.info["query_walls_s"] = queries
        self.name("query_latency_p50_s", median(queries), "s", len(queries))
        self.by_name["query_latency_tail_s"] = tail(queries)
        self.name("failed_ops_frac", failed_frac, "ratio", self.attempted)
        self.name("planted_probe_recall",
                  self.planted_hits / self.planted_total
                  if self.planted_total else None, "ratio",
                  self.planted_total)


def tail(samples: "list[float]") -> "dict[str, object]":
    """The highest percentile with at least ten samples beyond it (null
    below eleven samples)."""
    n = len(samples)
    out: "dict[str, object]" = {"value": None, "unit": "s", "samples": n,
                                "percentile": None}
    if n >= 11:
        out["value"] = sorted(samples)[n - 11]
        out["percentile"] = round(100.0 * (n - 10) / n, 1)
    return out


def cluster_map(path: str) -> "dict[str, str]":
    t = pq.read_table(path, columns=["image_id", "cluster_id"])
    return dict(zip(t.column("image_id").to_pylist(),
                    t.column("cluster_id").to_pylist()))


def _state_files(ckpt: str) -> "set[str]":
    d = os.path.join(ckpt, "pipeline_state")
    if not os.path.isdir(d):
        return set()
    return {os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet")}


def _stage_rows(files: "set[str]") -> "dict[str, tuple[int, float]]":
    """stage -> (rows_out summed over partitions, recorded seconds) from
    the given ``pipeline_state`` files."""
    out: "dict[str, tuple[int, float]]" = {}
    for f in sorted(files):
        t = pq.read_table(f, columns=["stage", "rows_out", "seconds"])
        for st, n, s in zip(t.column("stage").to_pylist(),
                            t.column("rows_out").to_pylist(),
                            t.column("seconds").to_pylist()):
            rows, sec = out.get(st, (0, 0.0))
            out[st] = (rows + int(n), max(sec, float(s)))
    return out


# ---------------------------------------------------------------- build

def build_workload(run: Run, corpus: inputs.Corpus,
                   draws: inputs.Draws) -> None:
    """The measured loop: cycles of a fresh build, then ``REQUESTS``
    requests against it.  The first build runs in a cold JVM (README: "Why no
    warm-up build").
    With tracing, the loop's builds count FS calls, the last one gives
    the ``pipeline.*`` metrics, and the replays follow."""
    from gsearch_spark.oracle import cluster_pair_recall
    from gsearch_spark.operators.pipeline import NearDupPipeline
    spark = run.spark
    images = spark.read.parquet(corpus.images_path)
    n_images = len(corpus.images)
    ckpt = os.path.join(run.work, "build")
    t_loop = time.perf_counter()
    cycle = 0
    while True:
        shutil.rmtree(ckpt, ignore_errors=True)
        pipe = NearDupPipeline(spark, run.cfg, ckpt)
        with run.fs.installed() if run.trace else nullcontext():
            res = run.op("build", lambda: pipe.run(images, resume=False),
                         group="pipeline")
        if res is None:
            break
        last = pipe.records, res
        rows = {r.stage: r.rows_out for r in pipe.records}
        run.fingerprint["build.jobs"] = int(res[2]["jobs"])
        clusters = cluster_map(os.path.join(ckpt, "clusters"))
        recall = cluster_pair_recall(clusters, set(corpus.truth_pairs))
        merged = sum(1 for a, b in corpus.truth_negatives
                     if clusters.get(a) == clusters.get(b))
        run.false_merges += merged
        run.samples["recall"].append(recall)
        run.check(recall >= MIN_RECALL, f"build: recall {recall:.4f}")
        run.check(merged == 0, f"build: {merged} false merges")
        run.check(len(clusters) == n_images, "build: clusters row count")
        run.fingerprint.update({
            "candidate_pairs": rows.get("candidate_pairs"),
            "verified_edges": rows.get("verified_edges"),
            "clusters": len(set(clusters.values()))})
        walls = [res[0]]
        for r in range(REQUESTS):
            batch, planted = draws.probes(f"{cycle}r{r}")
            walls.append(run.request(ckpt, batch, planted, clusters, set()))
        if None not in walls:
            run.samples["cycle"].append(sum(walls))
        cycle += 1
        if time.perf_counter() - t_loop >= run.seconds:
            break
    walls = run.samples["build"]
    run.e2e["cycle_latency_p50_s"] = median(run.samples["cycle"])
    run.e2e["dup_recall"] = median(run.samples["recall"])
    run.e2e["storage_bytes_per_input_byte"] = (
        probes.dir_bytes(ckpt) / probes.dir_bytes(corpus.images_path))
    run.name("build_images_per_s",
             n_images / median(walls) if walls else None, "1/s", len(walls))
    run.name("dup_pair_recall", run.e2e["dup_recall"], "ratio", len(walls))
    run.name("false_merges", run.false_merges, "count",
             len(corpus.truth_negatives) * len(walls))
    run.info["n_images"] = n_images
    if run.trace and walls:
        run.layer["fs.calls_per_op"] = run.fs.calls / len(walls)
        run.layer["fs.s_per_op"] = run.fs.seconds / len(walls)
        trace_build(run, images, ckpt, draws, *last)


def trace_build(run: Run, images, ckpt: str, draws: inputs.Draws,
                records, build) -> None:
    """The ``pipeline.*`` metrics of the loop's last build (its stage
    ``records`` and its ``run.op`` result), the layer replay, the
    request replay on that build and one timed key-index lookup."""
    from gsearch_spark.operators.keyidx import lookup_id_index
    wall, _, st = build
    L = run.layer
    recorded = {r.stage: r for r in records}
    for s in BUILD_STAGES:
        L[f"pipeline.wall_s.{s}"] = recorded[s].seconds
    L["pipeline.jobs"] = st["jobs"]
    L["pipeline.tasks"] = st["tasks"]
    L["pipeline.spill_bytes"] = st["spill_bytes"]
    L["pipeline.busy_ratio"] = st["task_s"] / (run.cores * wall)
    replay_rows = replay_build(run, images)
    L["pipeline.overlap_saving_s"] = (
        sum(L[f"{x}.self_s"] for x in LAYERS) - wall)
    for s in BUILD_STAGES:
        run.check(replay_rows.get(s) == recorded[s].rows_out,
                  f"replay {s}: {replay_rows.get(s)} rows, pipeline "
                  f"recorded {recorded[s].rows_out}")
    replay_request(run, ckpt, draws.probes("replay")[0])
    ids = run.spark.createDataFrame([(i,) for i in draws.planted_pool[:16]],
                                    schema="image_id string")
    t0 = time.perf_counter()
    lookup_id_index(run.spark, os.path.join(ckpt, "id_index"), ids,
                    run.cfg).collect()
    run.samples["keyidx.lookup"].append(time.perf_counter() - t0)


def replay_build(run: Run, images) -> "dict[str, int]":
    """Call the build's operators serially, in pipeline order, each
    forced by a parquet write under its own job group, with the same
    gate decisions as ``NearDupPipeline.run``.  Fills the per-layer
    table and returns each pipeline stage's row count."""
    from pyspark.sql import functions as F
    from gsearch_spark.operators.banding import build_bands
    from gsearch_spark.operators.candidates import emit_bucket_pairs
    from gsearch_spark.operators.cc import assign_clusters, union_find
    from gsearch_spark.operators.exact import (exact_groups,
                                               expand_clusters,
                                               representatives)
    from gsearch_spark.operators.keyidx import (read_edge_index,
                                                write_ck_index,
                                                write_edge_index,
                                                write_id_index)
    from gsearch_spark.operators.pipeline import cluster_pbucket
    from gsearch_spark.operators.signatures import compute_signatures
    from gsearch_spark.operators.suffix import suffix_candidate_pairs
    from gsearch_spark.operators.verify import verified_edges
    spark, cfg = run.spark, run.cfg
    d = os.path.join(run.work, "replay")
    shutil.rmtree(d, ignore_errors=True)

    def path(name: str) -> str:
        return os.path.join(d, name)

    def write(df, name: str) -> None:
        df.write.mode("overwrite").parquet(path(name))

    def layer(name: str, fn, *outputs: str) -> "list[int]":
        py0 = probes.python_worker_cpu_s(run.jvm)
        with run.groups.group(name) as gid:
            t0 = time.perf_counter()
            fn()
            self_s = time.perf_counter() - t0
        py_s = probes.python_worker_cpu_s(run.jvm) - py0
        st = run.groups.stats(gid)
        counts = [spark.read.parquet(path(o)).count() for o in outputs]
        L = run.layer
        L[f"{name}.self_s"] = self_s
        L[f"{name}.task_s"] = st["task_s"]
        L[f"{name}.cpu_s"] = st["cpu_s"]
        L[f"{name}.shuffle_bytes"] = st["shuffle_bytes"]
        L[f"{name}.rows"] = float(sum(counts))
        if name in PY_LAYERS:
            L[f"{name}.py_cpu_s"] = py_s
        return counts

    rows: "dict[str, int]" = {}
    rows["exact_groups"], = layer(
        "exact", lambda: write(exact_groups(images), "exact_groups"),
        "exact_groups")
    groups = spark.read.parquet(path("exact_groups"))
    images_rep = representatives(images, groups)
    rows["signatures"], = layer(
        "signatures",
        lambda: write(compute_signatures(images_rep, cfg), "signatures"),
        "signatures")
    sigs = spark.read.parquet(path("signatures"))
    rows["bands"], = layer(
        "banding", lambda: write(build_bands(sigs, cfg), "bands"), "bands")
    bands = spark.read.parquet(path("bands"))
    layer("suffix",
          lambda: write(suffix_candidate_pairs(images_rep), "suffix_pairs"),
          "suffix_pairs")
    sfx = spark.read.parquet(path("suffix_pairs"))
    rows["candidate_pairs"], = layer(
        "candidates",
        lambda: write(emit_bucket_pairs(bands).unionByName(sfx)
                      .groupBy("a", "b").agg(F.min("src").alias("src")),
                      "candidate_pairs"),
        "candidate_pairs")
    pairs = spark.read.parquet(path("candidate_pairs"))
    n_pairs = rows["candidate_pairs"]
    rows["verified_edges"], = layer(
        "verify",
        lambda: write(verified_edges(pairs, images_rep, cfg,
                                     n_pairs_hint=n_pairs),
                      "verified_edges"),
        "verified_edges")
    edges = spark.read.parquet(path("verified_edges"))
    n_edges = rows["verified_edges"]
    run.layer["verify.accept_ratio"] = n_edges / n_pairs if n_pairs else 0.0

    def cc() -> None:
        # the pipeline's gate: driver union-find below
        # add_cc_local_max_edges unless reliable checkpoints are on
        if (not cfg.cc_reliable_checkpoints
                and n_edges <= cfg.add_cc_local_max_edges):
            mapping = union_find([(r["a"], r["b"]) for r in
                                  edges.select("a", "b").collect()])
            comp = spark.createDataFrame(
                sorted(mapping.items()),
                schema="image_id string, cluster_id string")
            rep = (images_rep.select("image_id")
                   .join(F.broadcast(comp), "image_id", "left")
                   .select("image_id", F.coalesce("cluster_id", "image_id")
                           .alias("cluster_id")))
        else:
            cc_dir = path("cc_work") if cfg.cc_reliable_checkpoints else None
            rep = assign_clusters(edges, images_rep, checkpoint_dir=cc_dir)
        (expand_clusters(rep, groups)
         .withColumn("pbucket", cluster_pbucket(cfg))
         .repartition(cfg.cluster_buckets, F.col("pbucket"))
         .write.mode("overwrite").partitionBy("pbucket")
         .parquet(path("clusters")))

    rows["clusters"], = layer("cc", cc, "clusters")
    clusters = spark.read.parquet(path("clusters"))

    def keyidx() -> None:
        write_ck_index(groups, path("ck_index"), cfg)
        write_edge_index(edges, path("edge_index"), cfg)
        write_id_index(clusters, groups, path("id_index"), cfg)

    rows["ck_index"], _, rows["id_index"] = layer(
        "keyidx", keyidx, "ck_index", "edge_index", "id_index")
    rows["edge_index"] = read_edge_index(spark, path("edge_index")).count()
    return rows


def replay_request(run: Run, ckpt: str, batch) -> None:
    """``request``'s three steps timed one at a time, on a build with no
    removals (the branch the replay mirrors)."""
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.banding import explode_all_bands
    from gsearch_spark.operators.request import (probe_candidates,
                                                 rank_answers)
    from gsearch_spark.operators.signatures import compute_signatures
    spark = run.spark
    cfg = PipelineConfig.reload_via(CheckpointFS(spark, ckpt), ckpt)
    probes_df = spark.createDataFrame(batch)
    t0 = time.perf_counter()
    q_sigs = compute_signatures(probes_df, cfg).localCheckpoint()
    t1 = time.perf_counter()
    cands = probe_candidates(
        explode_all_bands(q_sigs, cfg),
        spark.read.parquet(os.path.join(ckpt, "bands")),
        max_bucket_probe=cfg.max_bucket_probe or None).localCheckpoint()
    t2 = time.perf_counter()
    rank_answers(cands, q_sigs,
                 spark.read.parquet(os.path.join(ckpt, "signatures")),
                 cfg, K, 0.99).collect()
    t3 = time.perf_counter()
    L = run.layer
    L["request.sketch_s"] = t1 - t0
    L["request.probe_s"] = t2 - t1
    L["request.rank_s"] = t3 - t2
    L["request.candidates_per_probe"] = cands.count() / len(batch)


# --------------------------------------------------------------- mutate

def mutate_workload(run: Run, corpus: inputs.Corpus, draws: inputs.Draws,
                    ckpt: str, pristine: str) -> None:
    """Closed-loop cycles of add -> remove -> requests on ``ckpt``, a
    throwaway copy of the stored build ``pristine``, until ``seconds``
    have passed (at least one cycle).  With tracing, the cycles count FS
    calls and probe the key index, and the request replay runs on
    ``pristine`` (read-only, no removals) after them."""
    from gsearch_spark.operators.keyidx import lookup_id_index
    spark = run.spark
    base = spark.read.parquet(corpus.images_path)
    input_bytes = probes.dir_bytes(corpus.images_path)
    added: list = []
    t_loop = time.perf_counter()
    cycle = 0
    with run.fs.installed() if run.trace else nullcontext():
        while True:
            rm_df = _mutate_cycle(run, draws, base, added, ckpt, cycle)
            if rm_df is None:
                break
            if run.trace:
                t0 = time.perf_counter()
                lookup_id_index(spark, os.path.join(ckpt, "id_index"),
                                rm_df, run.cfg).collect()
                run.samples["keyidx.lookup"].append(
                    time.perf_counter() - t0)
            cycle += 1
            if time.perf_counter() - t_loop >= run.seconds:
                break
    run.e2e["cycle_latency_p50_s"] = median(run.samples["cycle"])
    run.e2e["dup_recall"] = (run.planted_hits / run.planted_total
                             if run.planted_total else 0.0)
    run.e2e["storage_bytes_per_input_byte"] = (probes.dir_bytes(ckpt)
                                               / input_bytes)
    for op in ("add", "remove"):
        run.name(f"{op}_latency_p50_s", median(run.samples[op]), "s",
                 len(run.samples[op]))
    run.name("read_after_write_latency_p50_s", median(run.samples["query"]),
             "s", len(run.samples["query"]))
    run.name("tombstone_leaks", run.leaks, "count", len(draws.removed))
    if run.trace:
        n_ops = max(1, len(run.samples["fs.calls"]))
        run.layer["fs.calls_per_op"] = sum(run.samples["fs.calls"]) / n_ops
        run.layer["fs.s_per_op"] = sum(run.samples["fs.s"]) / n_ops
        replay_request(run, pristine, draws.probes("replay")[0])


def _mutate_cycle(run: Run, draws: inputs.Draws, base, added: list,
                  ckpt: str, cycle: int):
    """One add -> remove -> ``REQUESTS`` read-after-write requests, and
    the cycle's summed wall.  Returns the removed
    ids (a DataFrame), or None when an op raised (the build's state is
    then unknown, so the loop stops)."""
    from gsearch_spark.operators.pipeline import incremental_add
    from gsearch_spark.operators.remove import remove_images
    spark, cfg = run.spark, run.cfg
    walls = []
    rows, identical = draws.add_batch(cycle)
    new_df = spark.createDataFrame(rows)
    added.append(new_df)
    all_df = base
    for df in added:
        all_df = all_df.unionByName(df)
    res = _mutation(run, "add", ckpt, ADD_STAGES, lambda: incremental_add(
        spark, cfg, ckpt, new_df, all_df).toPandas())
    if res is None:
        return None
    walls.append(res[0])
    clusters = dict(zip(res[1]["image_id"], res[1]["cluster_id"]))
    for new_id, src in identical.items():
        run.check(clusters.get(new_id) == clusters.get(src),
                  f"add: identical copy {new_id} not with {src}")

    rm_ids = draws.remove_batch(list(rows["image_id"]))
    rm_df = spark.createDataFrame([(i,) for i in rm_ids],
                                  schema="image_id string")
    res = _mutation(run, "remove", ckpt, RM_STAGES, lambda: remove_images(
        spark, cfg, ckpt, rm_df).toPandas())
    if res is None:
        return None
    walls.append(res[0])
    clusters = dict(zip(res[1]["image_id"], res[1]["cluster_id"]))
    dead = set(draws.removed)
    leaked = dead & set(clusters)
    run.leaks += len(leaked)
    run.check(not leaked,
              f"remove: removed ids still clustered {sorted(leaked)[:5]}")

    # reads the build with live tombstones (merge-on-read); some of the
    # planted probes copy removed ids, which must not be answered
    for r in range(REQUESTS):
        batch, planted = draws.probes(f"{cycle}w{r}",
                                      from_removed=inputs.PLANTED_REMOVED)
        live = {q: src for q, src in planted.items() if src not in dead}
        walls.append(run.request(ckpt, batch, live, clusters, dead))
        if walls[-1] is None:
            return None
    run.samples["cycle"].append(sum(walls))
    return rm_df


def _mutation(run: Run, op: str, ckpt: str, stages, fn):
    """Run one add or remove under its job group; record its stage rows
    (fingerprint), job totals and, traced, its FS calls."""
    before = _state_files(ckpt)
    calls0, s0 = run.fs.calls, run.fs.seconds
    res = run.op(op, fn, group=op)
    if res is None:
        return None
    wall, out, st = res
    run.samples["fs.calls"].append(run.fs.calls - calls0)
    run.samples["fs.s"].append(run.fs.seconds - s0)
    for s, (n, sec) in _stage_rows(_state_files(ckpt) - before).items():
        run.fingerprint[f"{op}.{s}"] = n
        if s in stages:
            run.samples[f"{op}.stage_s.{s}"].append(sec)
    run.fingerprint[f"{op}.jobs"] = int(st["jobs"])
    run.samples[f"{op}.jobs"].append(st["jobs"])
    run.samples[f"{op}.task_s"].append(st["task_s"])
    run.samples[f"{op}.busy"].append(st["task_s"] / (run.cores * wall))
    L = run.layer
    L[f"{op}.jobs_per_op"] = median(run.samples[f"{op}.jobs"])
    L[f"{op}.task_s_per_op"] = median(run.samples[f"{op}.task_s"])
    L[f"{op}.busy_ratio"] = median(run.samples[f"{op}.busy"])
    for s in stages:
        L[f"{op}.stage_s.{s}"] = median(run.samples[f"{op}.stage_s.{s}"])
    return wall, out
