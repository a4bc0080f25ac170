"""Profile (position-weight-matrix) motif search over document text —
the ``hmmsearch_rs`` analog (reference wraps the HMMER C API to score
protein sequences against HMM profiles and emit a tabular report,
gsearch ``README.md:353-374``; profiles ship in its data folder).

Domain swap: protein sequences -> document/caption text, amino-acid
alphabet -> an 8-class character alphabet, profile HMM -> an ungapped
position-weight matrix (the HMM's match-state emission scores without
indel states — the Viterbi path of an ungapped profile IS the sliding
window maximum computed here).  Each profile is derived from a motif
string: +8 log-odds where the window character's class matches the
motif's class at that position, -1 otherwise, so ``best_score`` is the
integer log-odds of the best-matching window and ``best_pos`` its
1-based position — the same (target, query, score, position) tabular
surface hmmsearch_rs emits.

This doubles as a first-class LLM-training-data operator: the stock
profiles detect boilerplate templates (URL fragments, copyright
lines, digit runs, stopword runs) — the "template contamination"
screen of a web-scale corpus pipeline.

Scale shape: profiles are a 4-row broadcast literal; scoring is a
narrow per-row projection of built-in higher-order functions
(``transform``/``aggregate`` over ``sequence``) inside whole-stage
codegen — NO shuffle, NO Python, O(len * L * P) per document.  At
10^12 rows the plan is scan -> project -> (optional) filter, i.e.
embarrassingly parallel and limited only by scan bandwidth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gsearch_spark.session import local_frame

# 8-class character alphabet (the amino-acid-alphabet analog).  Any
# character outside SRC falls through translate() unchanged and is
# folded to class 7 by the [^0-7] replace — both engines share the
# exact same two-step mapping.
SRC = "abcdefghijklmnopqrstuvwxyz0123456789 .,;:!?-()"
DST = "0" * 6 + "1" * 7 + "2" * 6 + "3" * 7 + "4" * 10 + "5" + "6" * 9
assert len(SRC) == len(DST)

PROFILE_LEN = 8
MATCH_W, MISMATCH_W = 8, -1

# Stock profiles (motif -> PWM): template-contamination screens.
MOTIFS = {
    "url": "http://w",
    "copyright": "copyrigh",
    "digit_run": "20200101",
    "stopword_run": "the and ",
}


def char_class(ch: str) -> int:
    i = SRC.find(ch.lower())
    return int(DST[i]) if i >= 0 else 7


def profile_weights(motif: str) -> "list[int]":
    """Flat row-major PWM: weight(pos i, class k) = warr[i*8 + k]."""
    if len(motif) != PROFILE_LEN:
        raise ValueError(f"motif must be length {PROFILE_LEN}: {motif!r}")
    w: "list[int]" = []
    for ch in motif:
        c = char_class(ch)
        w.extend(MATCH_W if k == c else MISMATCH_W for k in range(8))
    return w


def _profiles_df(spark: SparkSession,
                 motifs: "dict[str, str]") -> DataFrame:
    rows = [(pid, profile_weights(m)) for pid, m in sorted(motifs.items())]
    return local_frame(spark, rows, "profile_id string, warr array<int>")


# Shared expression fragments so the Spark query and the DuckDB oracle
# are textually parallel (same two-step class mapping, same window
# scoring, same first-occurrence argmax).
_CLS_EXPR = (f"regexp_replace(translate(lower(text), '{SRC}', '{DST}'), "
             "'[^0-7]', '7')")


def profile_motif_search(docs: DataFrame, profiles: DataFrame) -> DataFrame:
    """Score every document against every profile; one row per
    (doc, profile) with the best window's integer log-odds score and
    1-based position (ties -> smallest position, like hmmsearch's
    first-reported domain).  Documents shorter than the profile emit
    no row (no scorable window)."""
    L = PROFILE_LEN
    scores = (f"transform(sequence(1, char_length(s) - {L - 1}), "
              f"j -> aggregate(sequence(0, {L - 1}), 0, "
              "(acc, i) -> acc + element_at(warr, "
              "i * 8 + int(substr(s, j + i, 1)) + 1)))")
    return (docs
            .withColumn("s", F.expr(_CLS_EXPR))
            .filter(F.char_length("s") >= L)
            .crossJoin(F.broadcast(profiles))
            .withColumn("scores", F.expr(scores))
            .select("doc_id", "profile_id",
                    F.array_max("scores").cast("int").alias("best_score"),
                    F.array_position(
                        "scores", F.array_max("scores"))
                    .cast("int").alias("best_pos")))


def q_profile_motif_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    return profile_motif_search(docs, _profiles_df(spark, MOTIFS))


def _sql_values(motifs: "dict[str, str]") -> str:
    return ", ".join(
        f"('{pid}', {profile_weights(m)})"
        for pid, m in sorted(motifs.items()))


SQL_PROFILE_MOTIF_SEARCH = f"""
WITH profiles(profile_id, warr) AS (VALUES {_sql_values(MOTIFS)}),
cls AS (
  SELECT doc_id,
         regexp_replace(translate(lower(text), '{SRC}', '{DST}'),
                        '[^0-7]', '7', 'g') AS s
  FROM documents
),
sc AS (
  SELECT doc_id, profile_id,
         [list_sum([warr[i*8 + CAST(s[j+i] AS INT) + 1]
                    for i in generate_series(0, {PROFILE_LEN - 1})])
          for j in generate_series(1, length(s) - {PROFILE_LEN - 1})]
           AS scores
  FROM cls CROSS JOIN profiles
  WHERE length(s) >= {PROFILE_LEN}
)
SELECT doc_id, profile_id,
       CAST(list_max(scores) AS INT) AS best_score,
       CAST(list_position(scores, list_max(scores)) AS INT) AS best_pos
FROM sc
"""
