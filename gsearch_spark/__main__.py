"""CLI — the reference's subcommand surface on Spark.

Mirrors gsearch's clap entry points (``src/bin/gsearch.rs:565-587``) so a
reference user can drive the engine the same way they drive gsearch:

  python -m gsearch_spark tohnsw  -d images.parquet -b BUILD_DIR [-s 128]
                                  [--algo optdens|revoptdens|prob] [...]
  python -m gsearch_spark add     -b BUILD_DIR -n new_images.parquet
  python -m gsearch_spark request -b BUILD_DIR -r queries.parquet -n 10
  python -m gsearch_spark ann     -b BUILD_DIR [--stats] [--embed]

``tohnsw`` builds the checkpointed index (exact-collapse -> signatures ->
salted bands -> pairs -> verify -> CC) and records parameters.json plus a
sources.json manifest of input paths.  ``add`` re-sketches ONLY the new
rows under the ORIGINAL config (gsearch ``src/bin/gsearch.rs:714-742``)
— old payloads are re-read from the manifest, the one departure from the
reference (its index stores payload dictionaries; ours stores columnar
checkpoints and re-reads inputs lazily).  ``request`` probes the stored
index and writes per-query top-k answers thresholded on sketch distance
(``src/dna/dnarequest.rs:83``) to ``<build>/answers`` (parquet) and a
``gsearch.neighbors.txt``-style TSV.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _cfg_from_args(args) -> "PipelineConfig":
    from gsearch_spark.config import PipelineConfig
    return PipelineConfig(sketch_size=args.sketch_size, algo=args.algo,
                          bands=args.bands,
                          rows_per_band=args.sketch_size // args.bands,
                          seed=args.seed)


def _spark(cores: int):
    from gsearch_spark.session import get_spark
    return get_spark("gsearch_spark_cli", cores=cores)


def _manifest_path(build_dir: str) -> str:
    return os.path.join(build_dir, "sources.json")


def _payload_table_name(build_dir: str) -> str:
    import hashlib
    import re
    base = re.sub(r"\W+", "_", os.path.basename(
        os.path.normpath(build_dir))).strip("_") or "build"
    suffix = hashlib.md5(os.path.abspath(build_dir).encode()).hexdigest()[:8]
    return f"gsearch_payload_{base}_{suffix}"


def cmd_tohnsw(args) -> int:
    import dataclasses
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import NearDupPipeline
    spark = _spark(args.cores)
    cfg = _cfg_from_args(args)
    images = spark.read.parquet(args.datadir)
    manifest = {"sources": [args.datadir]}
    if args.bucketed:
        # --bucketed: persist the payload table bucketed on image_id
        # beside the build (Iceberg bucket-transform analog) and run the
        # pipeline THROUGH it with the shuffle attach strategy — the
        # combination under which the payload bytes never shuffle on any
        # image_id join (plan-asserted in tests).  The broadcast attach
        # doesn't need bucketing; shuffle is the 10^12-row path where
        # the id set outgrows the driver.
        from gsearch_spark.bucketed import (bucketed_images, schema_ddl,
                                            write_images_bucketed)
        table = _payload_table_name(args.build_dir)
        payload_path = os.path.abspath(
            os.path.join(args.build_dir, "payload"))
        write_images_bucketed(spark, images, table,
                              buckets=args.payload_buckets,
                              path=payload_path)
        images = bucketed_images(spark, table)
        cfg = dataclasses.replace(cfg, verify_attach="shuffle")
        manifest.update(payload_table=table,
                        payload_path=payload_path,
                        payload_buckets=args.payload_buckets,
                        payload_schema=schema_ddl(images))
    clusters = NearDupPipeline(spark, cfg, args.build_dir).run(
        images, resume=not args.no_resume)
    fs = CheckpointFS(spark, args.build_dir)
    fs.write_text(_manifest_path(args.build_dir), json.dumps(manifest))
    n = clusters.count()
    print(f"tohnsw: built {args.build_dir}: {n} cluster assignments")
    return 0


def cmd_add(args) -> int:
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import (add_writer_lock,
                                                  incremental_add,
                                                  recover_add_commit)
    spark = _spark(args.cores)
    fs = CheckpointFS(spark, args.build_dir)
    cfg = PipelineConfig.reload_via(fs, args.build_dir)  # original config
    manifest = json.loads(fs.read_text(_manifest_path(args.build_dir)))
    new_images = spark.read.parquet(args.newdir)
    # ONE writer lock spans recovery + payload append + the add itself,
    # so a concurrent add can't interleave between our payload append
    # and the build commit (incremental_add re-enters it as a no-op)
    with add_writer_lock(spark, args.build_dir):
        return _cmd_add_locked(args, spark, fs, cfg, manifest, new_images)


def _cmd_add_locked(args, spark, fs, cfg, manifest, new_images) -> int:
    from gsearch_spark.operators.pipeline import (incremental_add,
                                                  recover_add_commit)
    recover_add_commit(spark, args.build_dir)  # torn commit: roll forward
    if manifest.get("payload_table"):
        # bucketed build: append new payloads into the bucketed table
        # under its existing bucket spec, then run the add THROUGH the
        # table so every payload join stays exchange-free.  Only ids
        # MISSING from the payload table are appended — a retried add
        # whose previous attempt appended payloads but died before the
        # build commit resumes cleanly instead of refusing forever
        # (genuine conflicts with the BUILD still refuse inside
        # incremental_add's id-clash check).
        from gsearch_spark.bucketed import (append_images_bucketed,
                                            ensure_bucketed_table)
        from gsearch_spark.operators.keyidx import probe_keys
        table = manifest["payload_table"]
        ensure_bucketed_table(spark, table, manifest["payload_path"],
                              manifest["payload_buckets"],
                              ddl=manifest.get("payload_schema"))
        present = probe_keys(spark.table(table).select("image_id"),
                             "image_id", new_images)
        missing = new_images.join(present, "image_id", "left_anti")
        if not missing.isEmpty():
            append_images_bucketed(spark, missing, table)
        all_images = spark.table(table)
    else:
        all_images = spark.read.parquet(*manifest["sources"], args.newdir)
    clusters = incremental_add(spark, cfg, args.build_dir, new_images,
                               all_images)
    manifest["sources"].append(args.newdir)
    fs.write_text(_manifest_path(args.build_dir), json.dumps(manifest))
    print(f"add: {args.newdir} added; {clusters.count()} assignments")
    return 0


def cmd_remove(args) -> int:
    """Takedown / right-to-be-forgotten: remove image ids from a build.
    Ids come from ``--ids a,b,c`` or ``--ids-file`` (one id per line or
    a parquet with an image_id column).  Clusters are recomputed for
    the affected partitions only; corpus-sized stages stay merge-on-read
    (run ``compact`` to purge physically)."""
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.remove import remove_images
    from gsearch_spark.session import local_frame
    spark = _spark(args.cores)
    cfg = PipelineConfig.reload_via(CheckpointFS(spark, args.build_dir),
                                    args.build_dir)
    if args.ids:
        ids = [(s,) for s in args.ids.split(",") if s]
        rm = local_frame(spark, ids, "image_id string")
    elif args.ids_file and args.ids_file.endswith(".parquet"):
        rm = spark.read.parquet(args.ids_file).select("image_id")
    elif args.ids_file:
        with open(args.ids_file) as f:
            ids = [(line.strip(),) for line in f if line.strip()]
        rm = local_frame(spark, ids, "image_id string")
    else:
        raise SystemExit("remove: pass --ids or --ids-file")
    n = rm.count()
    clusters = remove_images(spark, cfg, args.build_dir, rm)
    print(f"remove: {n} images removed; "
          f"{clusters.count()} assignments remain")
    return 0


def cmd_compact(args) -> int:
    """Offline maintenance (the Iceberg rewrite-data-files analog):
    first physically purge any merge-on-read removal state (drop
    tombstoned/dead rows, re-key promoted reps, rebuild id_index), then
    rewrite the id_index LSM generations down to one latest row per
    image.  Run when the stale fraction grows; takes the build's
    writer lock."""
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.keyidx import compact_id_index
    from gsearch_spark.operators.remove import purge_removed
    spark = _spark(args.cores)
    cfg = PipelineConfig.reload_via(CheckpointFS(spark, args.build_dir),
                                    args.build_dir)
    stats = purge_removed(spark, cfg, args.build_dir)
    path = os.path.join(args.build_dir, "id_index")
    before = spark.read.parquet(path).count()
    compact_id_index(spark, path, cfg)
    after = spark.read.parquet(path).count()
    print(f"compact: purged {stats['tombstones_purged']} tombstones / "
          f"{stats['dead_groups_purged']} dead groups / "
          f"{stats['reps_rekeyed']} re-keyed reps; "
          f"id_index {before} -> {after} rows")
    return 0


def cmd_unlock(args) -> int:
    """Break a stale single-writer add lock (e.g. a writer that died on
    ANOTHER host, where pid liveness can't be probed; dead same-host
    writers self-heal without this).  Refuses nothing — the operator is
    asserting the writer is gone."""
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.pipeline import ADD_LOCK
    spark = _spark(args.cores)
    fs = CheckpointFS(spark, args.build_dir)
    path = os.path.join(args.build_dir, ADD_LOCK)
    if not fs.exists(path):
        print("unlock: no lock held")
        return 0
    try:
        held = fs.read_text(path)
    except Exception:
        held = "<unreadable>"
    fs.delete(path)
    print(f"unlock: removed lock {held}")
    return 0


def cmd_hmmsearch(args) -> int:
    """PWM profile search over document text — the ``hmmsearch_rs``
    analog (reference wraps HMMER to score sequences against HMM
    profiles and emit a tabular report, gsearch ``README.md:353-374``).
    ``--motifs`` swaps the stock template-contamination profiles for a
    JSON ``{profile_id: 8-char motif}`` file (the custom-HMM case)."""
    from gsearch_spark.operators.profilesearch import (MOTIFS, _profiles_df,
                                                       profile_motif_search)
    spark = _spark(args.cores)
    motifs = dict(MOTIFS)
    if args.motifs:
        with open(args.motifs) as f:
            motifs = json.load(f)
    docs = spark.read.parquet(args.docs).select("doc_id", "text")
    hits = profile_motif_search(docs, _profiles_df(spark, motifs))
    hits.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"hmmsearch: {n} (doc, profile) rows -> {args.output}")
    return 0


def cmd_predict_captions(args) -> int:
    """Predict pseudo-captions for caption-less rows — the
    FragGeneScanRs analog (reference: standalone gene-prediction
    preprocessing run before the AA-pathway build,
    ``binaux/src/bin/FragGeneScanRs.rs:26-120``).  The output parquet
    has the input schema plus ``caption_predicted`` and feeds
    ``tohnsw`` exactly like a captioned table."""
    from gsearch_spark.operators.captionextract import \
        extract_pseudo_captions
    spark = _spark(args.cores)
    images = spark.read.parquet(args.docs)
    out = extract_pseudo_captions(images)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).filter("caption_predicted").count()
    print(f"predict-captions: {n} captions predicted -> {args.output}")
    return 0


def cmd_request(args) -> int:
    from pyspark.sql import functions as F
    from gsearch_spark.operators.request import request
    spark = _spark(args.cores)
    queries = spark.read.parquet(args.reqdir)
    answers = request(spark, args.build_dir, queries, k=args.nb_answers,
                      max_distance=args.max_distance)
    out = args.out or os.path.join(args.build_dir, "answers")
    answers.write.mode("overwrite").parquet(out)
    answers = spark.read.parquet(out)
    # gsearch.neighbors.txt-style TSV (answer sink, src/answer.rs:35-76).
    # STREAMED via toLocalIterator — the parquet sink is the real output;
    # the TSV must not collect() 10^9 answer rows onto the driver (one
    # partition is in driver memory at a time).
    tsv = os.path.join(os.path.dirname(out) or ".", "gsearch.neighbors.txt")
    it = (answers.orderBy("query_id", "rank")
          .select("query_id", "target_id",
                  F.format_number("distance", 6).alias("distance"),
                  "rank", "ani").toLocalIterator())
    n_rows = 0
    with open(tsv, "w") as f:
        for r in it:
            f.write(f"{r['query_id']}\t{r['target_id']}"
                    f"\t{r['distance']}\t{r['rank']}\t{r['ani']}\n")
            n_rows += 1
    print(f"request: {n_rows} answers -> {out} (+ {tsv})")
    return 0


def cmd_ann(args) -> int:
    """k-NN-graph statistics / hubness / 2-D embedding of a stored
    build — the reference's ``ann`` subcommand (gsearch
    ``src/bin/gsearch.rs:784-852``; stats+hubness
    ``src/utils/embed.rs:14-32``, embedding dumped to
    ``database_embedded.csv`` ``:60-66``)."""
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.graphstats import (graph_stats,
                                                    hubness_histogram,
                                                    spectral_embed2d)
    spark = _spark(args.cores)
    cfg = PipelineConfig.reload_via(CheckpointFS(spark, args.build_dir),
                                    args.build_dir)
    if args.stats or not args.embed:
        row = graph_stats(spark, args.build_dir,
                          sketch_size=cfg.sketch_size).collect()[0]
        print("graph stats:", row.asDict())
        print("graph hubness estimation : "
              f"{row['hubness_s3'] if row['hubness_s3'] is not None else 0.0:.3e}")
        hist = (hubness_histogram(spark, args.build_dir,
                                  sketch_size=cfg.sketch_size)
                .orderBy("in_degree").collect())
        print("hubness histogram:",
              {r["in_degree"]: r["n_nodes"] for r in hist})
    if args.embed:
        out = os.path.join(args.build_dir, "database_embedded.csv")
        emb = spectral_embed2d(spark, args.build_dir,
                               sketch_size=cfg.sketch_size)
        n = 0
        with open(out, "w") as f:
            for r in emb.orderBy("image_id").toLocalIterator():
                f.write(f"{r['image_id']},{r['x']},{r['y']}\n")
                n += 1
        print(f"ann: embedded {n} items -> {out}")
    return 0


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(prog="gsearch_spark")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("tohnsw", help="build the near-dup index")
    p.add_argument("-d", "--datadir", required=True,
                   help="images parquet path")
    p.add_argument("-b", "--build-dir", required=True)
    p.add_argument("-s", "--sketch-size", type=int, default=128)
    p.add_argument("--algo", default="optdens",
                   choices=("optdens", "revoptdens", "prob",
                            "super", "super2"))
    p.add_argument("--bands", type=int, default=16)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--bucketed", action="store_true",
                   help="persist payloads as an image_id-bucketed table "
                        "beside the build and run verify/add through it "
                        "(no payload exchange on any image_id join)")
    p.add_argument("--payload-buckets", type=int, default=32)
    p.set_defaults(fn=cmd_tohnsw)

    p = sub.add_parser("add", help="append new images to an existing build")
    p.add_argument("-b", "--build-dir", required=True)
    p.add_argument("-n", "--newdir", required=True,
                   help="new images parquet path")
    p.set_defaults(fn=cmd_add)

    p = sub.add_parser("remove", help="remove images from a build "
                       "(takedown / right-to-be-forgotten)")
    p.add_argument("-b", "--build-dir", required=True)
    p.add_argument("--ids", help="comma-separated image ids")
    p.add_argument("--ids-file", help="text file (one id per line) or "
                   "parquet with an image_id column")
    p.set_defaults(fn=cmd_remove)

    p = sub.add_parser("compact", help="rewrite id_index to one latest "
                                       "row per image (offline maintenance)")
    p.add_argument("-b", "--build-dir", required=True)
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("unlock", help="break a stale single-writer add lock")
    p.add_argument("-b", "--build-dir", required=True)
    p.set_defaults(fn=cmd_unlock)

    p = sub.add_parser("predict-captions",
                       help="predict visual-word pseudo-captions for "
                            "caption-less rows (FragGeneScanRs analog)")
    p.add_argument("-d", "--docs", required=True,
                   help="images parquet (image_id, bytes, ..., caption)")
    p.add_argument("-o", "--output", required=True,
                   help="output parquet path")
    p.set_defaults(fn=cmd_predict_captions)

    p = sub.add_parser("hmmsearch", help="PWM profile search over "
                                         "document text (hmmsearch_rs "
                                         "analog / template screen)")
    p.add_argument("-d", "--docs", required=True,
                   help="documents parquet (doc_id, text)")
    p.add_argument("-m", "--motifs",
                   help="JSON {profile_id: 8-char motif}; default = stock "
                        "template-contamination profiles")
    p.add_argument("-o", "--output", required=True,
                   help="output parquet path")
    p.set_defaults(fn=cmd_hmmsearch)

    p = sub.add_parser("ann", help="k-NN graph stats / hubness / 2-D "
                                   "embedding of a stored build")
    p.add_argument("-b", "--build-dir", required=True)
    p.add_argument("--stats", action="store_true",
                   help="print graph + hubness statistics (default when "
                        "--embed is not given)")
    p.add_argument("--embed", action="store_true",
                   help="write database_embedded.csv beside the build")
    p.set_defaults(fn=cmd_ann)

    p = sub.add_parser("request", help="top-k search against a build")
    p.add_argument("-b", "--build-dir", required=True)
    p.add_argument("-r", "--reqdir", required=True,
                   help="query images parquet path")
    p.add_argument("-n", "--nb-answers", type=int, default=10)
    p.add_argument("--max-distance", type=float, default=0.99)
    p.add_argument("-o", "--out", default=None)
    p.set_defaults(fn=cmd_request)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
