"""IVF (inverted-file) ANN over the ``embeddings`` table — the trained
coarse-quantizer scale path, completing the similarity-search menu next
to brute-force cosine (``ann.q_knn_cosine_topk``, the small-scale
oracle) and sign-projection LSH (``ann.q_ann_lsh_topk``, the data-
independent scale path).

Reference anchor: gsearch's build-vs-probe asymmetry (HNSW is built once
and a request addresses only a bounded neighborhood of it,
``src/dna/dnasketch.rs:106-134`` / ``src/dna/dnarequest.rs:64-388``).
IVF-Flat is the relational re-expression of that asymmetry:

* **Train** — K spherical-k-means centroids fitted by Lloyd's algorithm
  on a BOUNDED deterministic sample (the FAISS practice: train the
  coarse quantizer on a capped sample, never the full corpus).  The
  sample is the ``SAMPLE_CAP`` rows with the smallest
  ``md5(vec_id)`` — a one-pass bounded top-k, deterministic across
  partition layouts, so the trained centroids are reproducible.
  Training is driver-side numpy over (cap × dim) floats — bounded, and
  the trained table is K rows: broadcast-sized by construction.
* **Assign** — every vector joins the K-row centroid table (Spark
  broadcasts it) and keeps its argmax-cosine centroid: the inverted
  list id.  One narrow shuffle-free map per vector; at 10^12 rows this
  is the embarrassing stage.
* **Probe** — a query addresses only its ``N_PROBE`` nearest lists;
  candidates come from an equi-join probe×assign on ``list_id`` (the
  inverted-file lookup — partition both sides by list_id and the join
  is co-located), then exact cosine reranks the bounded candidate set.
  Per-query work is ``nprobe·n/K``, independent of the global pair
  count; at 10^12 rows K grows ~sqrt(n) so lists stay bounded.

Cross-engine determinism: the trained centroids are CHECKPOINTED to a
single parquet file that both engines read (same trick as the
report-family oracles over ``verified_edges``), assignment similarity is
rounded to 4 dp with list_id as tie-break, and exact cosine follows the
module-wide in-order fold + round(4) + nbr_id tie-break convention
(see ann.py header).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from gsearch_spark.operators.ann import TOP_K

K_LISTS = 16     # inverted lists (coarse-quantizer centroids)
N_PROBE = 4      # lists a query addresses
LLOYD_ITERS = 4  # fixed Lloyd iterations (deterministic)
SAMPLE_CAP = 65536  # training-sample bound (FAISS-style train-on-sample)


# --------------------------------------------------------------- training

def train_centroids(sample: np.ndarray, k: int = K_LISTS,
                    iters: int = LLOYD_ITERS) -> np.ndarray:
    """Spherical k-means by Lloyd's algorithm, fully deterministic.

    ``sample`` is (n, dim) float64 in a caller-fixed row order.  Rows are
    L2-normalized; init takes k evenly spaced rows of the ordered sample;
    assignment is argmax dot (numpy argmax = lowest index on ties);
    update is the member mean re-normalized, with empty lists keeping
    their previous centroid.  Returns (k, dim) float64, rows unit-norm.
    """
    if sample.ndim != 2 or len(sample) < k:
        raise ValueError(f"need >= {k} sample rows, got {sample.shape}")
    x = sample.astype(np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    idx = (np.arange(k, dtype=np.int64) * len(x)) // k
    cent = x[idx].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    cent[j] = c / n
    return cent


def ensure_centroids(spark: SparkSession, emb_path: str,
                     out_path: str) -> str:
    """Train-once-and-checkpoint: write the K-row centroid table as ONE
    parquet file (atomic tmp+rename) so Spark and DuckDB read identical
    bytes.  The training sample is the SAMPLE_CAP rows with smallest
    md5(vec_id) — a bounded TakeOrdered, deterministic across partition
    layouts — collected to the driver (bounded by construction; this is
    the FAISS train-on-sample pattern, not a corpus collect)."""
    if os.path.exists(out_path):
        return out_path
    rows = (spark.read.parquet(emb_path)
            .select("vec_id", "embedding")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(SAMPLE_CAP)
            .collect())
    sample = np.array([r.embedding for r in rows], dtype=np.float64)
    cent = train_centroids(sample)
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pa.table({
        "list_id": pa.array(range(len(cent)), type=pa.int32()),
        "centroid": pa.array([c.tolist() for c in cent],
                             type=pa.list_(pa.float64())),
    })
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    tmp = out_path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, out_path)
    return out_path


# ---------------------------------------------------------------- queries

def default_centroids_path(sf_dir: str) -> str:
    """Canonical checkpoint location for a given sf_dir — shared by the
    Spark query and the DuckDB oracle so both read the same bytes."""
    return os.path.join(
        "/tmp/gsearch_spark_entry",
        f"ivf_centroids_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_k{K_LISTS}.parquet")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str,
                   centroids_path: str | None = None) -> DataFrame:
    """IVF-Flat retrieval: trained coarse quantizer -> inverted-list
    probe -> exact cosine top-k (same answer shape as ``ann_lsh_topk``
    so the two scale paths are directly comparable).

    Execution shape (round-6 optimization; answer rows bit-identical to
    the single-SQL form, which remains as the DuckDB oracle text —
    every expression below is textually the same, only evaluated once):

    * ``norms`` and the ranked-list window are each MATERIALIZED once —
      the single-SQL plan re-evaluated the embeddings scan + norm HOF
      four times (probe arm, assign arm, both rerank sides) and the
      centroid-similarity window twice (guide §2.4 duplicated subtrees);
    * the candidate list is explicitly hash-repartitioned on vec_id
      before the rerank: the inverted-list join EXPANDS ~n*nprobe*(n/K)
      rows out of a tiny shuffle, so AQE's size-based coalescing (which
      only sees the small input bytes) otherwise funnels the whole
      rerank into one task (guide §2.5: synthetic partition starvation);
    * the rerank keeps the ``aggregate(zip_with(...))`` fold expression
      VERBATIM (bit-identical doubles by construction).  A fully
      unrolled 64-term addition chain was tried and measured 5x SLOWER
      (7.6 s vs 1.5 s for the fold on the same joined input — the
      expression blows past codegen method limits and falls back to
      interpreted evaluation of 128 element_at calls per row), so the
      fold stays; the win here is evaluating it once per candidate over
      a properly partitioned input, not replacing it.
    """
    emb_path = f"{sf_dir}/embeddings.parquet"
    spark.read.parquet(emb_path).createOrReplaceTempView("embeddings")
    if centroids_path is None:
        centroids_path = default_centroids_path(sf_dir)
    ensure_centroids(spark, emb_path, centroids_path)
    cent = spark.read.parquet(centroids_path)
    cent.createOrReplaceTempView("ivf_centroids")

    norms = spark.sql("""
      SELECT vec_id, e,
             sqrt(aggregate(e, cast(0.0 AS double),
                            (acc, x) -> acc + x * x)) AS nrm
      FROM (SELECT vec_id, transform(embedding, x -> cast(x AS double))
                     AS e
            FROM embeddings)
    """).localCheckpoint()
    n_rows = norms.count()
    norms.createOrReplaceTempView("ivf_norms")
    ranked = (spark.sql(f"""
      SELECT vec_id, list_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, list_id) AS lrank
      FROM (
        SELECT n.vec_id, c.list_id,
               round(aggregate(zip_with(n.e, c.centroid,
                                        (x, y) -> x * y),
                               cast(0.0 AS double), (acc, x) -> acc + x)
                     / n.nrm, 4) AS sim
        FROM ivf_norms n CROSS JOIN ivf_centroids c)
    """).filter(F.col("lrank") <= N_PROBE).localCheckpoint())
    probe = ranked.select("vec_id", "list_id")
    assign = (ranked.filter(F.col("lrank") == 1)
              .select(F.col("vec_id").alias("nbr_id"), "list_id"))
    n_parts = spark.sparkContext.defaultParallelism
    cands = (probe.join(assign, "list_id")
             .filter(F.col("vec_id") != F.col("nbr_id"))
             .select("vec_id", "nbr_id").distinct()
             .repartition(n_parts, "vec_id"))
    a = norms.select("vec_id", F.col("e").alias("ea"),
                     F.col("nrm").alias("na"))
    b = norms.select(F.col("vec_id").alias("nbr_id"),
                     F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    if n_rows <= 1_000_000:
        a, b = F.broadcast(a), F.broadcast(b)
    scored = (cands.join(a, "vec_id").join(b, "nbr_id")
              .withColumn(
                  "cos_sim",
                  F.expr("round(aggregate(zip_with(ea, eb, "
                         "(x, y) -> x * y), cast(0.0 AS double), "
                         "(acc, x) -> acc + x) / (na * nb), 4)"))
              .select("vec_id", "nbr_id", "cos_sim"))
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "nbr_id")
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("vec_id", "nbr_id", "cos_sim", "rank"))


def sql_ann_ivf_topk(centroids_path: str) -> str:
    """DuckDB mirror: identical chain, centroids read from the same
    checkpointed parquet the Spark query reads."""
    return f"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings
      ),
      norms AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        FROM v
      ),
      cent AS (SELECT * FROM read_parquet('{centroids_path}')),
      csim AS (
        SELECT n.vec_id, c.list_id,
               round(list_sum(list_transform(generate_series(1, len(n.e)),
                                             i -> n.e[i] * c.centroid[i]))
                     / n.nrm, 4) AS sim
        FROM norms n CROSS JOIN cent c
      ),
      ranked_lists AS (
        SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, list_id) AS lrank
        FROM csim
      ),
      assign AS (
        SELECT vec_id, list_id FROM ranked_lists WHERE lrank = 1
      ),
      probe AS (
        SELECT vec_id, list_id FROM ranked_lists WHERE lrank <= {N_PROBE}
      ),
      cands AS (
        SELECT DISTINCT p.vec_id AS vec_id, a.vec_id AS nbr_id
        FROM probe p JOIN assign a
          ON p.list_id = a.list_id AND p.vec_id <> a.vec_id
      ),
      scored AS (
        SELECT c.vec_id, c.nbr_id,
               round(list_sum(list_transform(generate_series(1, len(a.e)),
                                             i -> a.e[i] * b.e[i]))
                     / (a.nrm * b.nrm), 4) AS cos_sim
        FROM cands c
        JOIN norms a ON a.vec_id = c.vec_id
        JOIN norms b ON b.vec_id = c.nbr_id
      ),
      final AS (
        SELECT vec_id, nbr_id, cos_sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, nbr_id) AS rank
        FROM scored
      )
      SELECT vec_id, nbr_id, cos_sim, rank::INT AS rank
      FROM final WHERE rank <= {TOP_K}
    """
