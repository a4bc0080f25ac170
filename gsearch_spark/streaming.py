"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY §2.10) — its one streaming element is
an algorithmic one-pass coreset, not event-time processing.  This module
adds the event-time operators a training-data ingest pipeline needs, as
genuine Structured Streaming (file source -> watermark -> windowed agg /
custom state -> sink), testable deterministically with the
``availableNow`` trigger:

  * ``windowed_event_counts``  — tumbling event-time windows + watermark
    for late data; count/sum per (window, event_type).
  * ``sessionize_stream``      — custom stateful sessionization with
    ``applyInPandasWithState`` (GroupStateTimeout on the event-time
    watermark): per-user session counts with a 30-min gap rule, the
    streaming twin of the batch ``q_sessionize_events`` operator.

Both return the streaming DataFrame; ``run_available_now`` drains the
source and returns the materialized result for tests/benches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    The file streaming source requires a DIRECTORY; the driver testdata
    ships one parquet file per table, so stage it (hard-link/copy) into a
    per-sf staging dir once.  In production this is simply the ingest
    directory / Iceberg table feed.
    """
    import hashlib
    import os
    import shutil

    key = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    stage = f"/tmp/gsearch_stream_src_{key}"
    dst = os.path.join(stage, "events.parquet")
    if not os.path.exists(dst):
        os.makedirs(stage, exist_ok=True)
        try:
            os.link(f"{sf_dir}/events.parquet", dst)
        except OSError:
            shutil.copyfile(f"{sf_dir}/events.parquet", dst)
    return (spark.readStream
            .schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(stage))


def windowed_event_counts(events: DataFrame,
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Tumbling event-time windows with a late-data watermark."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"),
                    "event_type", "n", "sum_value"))


_SESSION_STATE = "n_sessions bigint, last_ts double"
_SESSION_OUT = "user_id bigint, n_sessions bigint, n_events bigint"
_GAP_SECONDS = 1800.0


def _session_fn(key, pdfs, state: GroupState):
    """Per-user session counter: a new session starts after a 30-min gap.

    State carries (session count so far, last event epoch-seconds); the
    batch's events are sorted by event time before folding.
    """
    (user_id,) = key
    if state.exists:
        n_sessions, last_ts = state.get
    else:
        n_sessions, last_ts = 0, None
    n_events = 0
    for pdf in pdfs:
        pdf = pdf.sort_values("ts")
        n_events += len(pdf)
        for t in pdf["ts"].astype("int64").to_numpy() / 1e9:
            if last_ts is None or (t - last_ts) > _GAP_SECONDS:
                n_sessions += 1
            last_ts = t
    state.update((n_sessions, float(last_ts if last_ts else 0.0)))
    yield pd.DataFrame({"user_id": [user_id], "n_sessions": [n_sessions],
                        "n_events": [n_events]})


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState)."""
    return (events
            .withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_fn,
                outputStructType=_SESSION_OUT,
                stateStructType=_SESSION_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming EXACT dedup — the ingest tier of the dedup mandate.

    At-least-once sources (Kafka retries, file-drop re-deliveries)
    deliver duplicate rows; ``dropDuplicatesWithinWatermark`` emits each
    key once and — unlike plain dropDuplicates — EVICTS state for keys
    older than the event-time watermark, so state is bounded by the
    late-data horizon instead of growing with the stream (the 100 TB
    concern).  Keyed on event_id here; content keys (md5 of payload)
    slot in identically for the documents/images tables.
    """
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def run_available_now(stream_df: DataFrame, name: str,
                      checkpoint: str, output_mode: str) -> DataFrame:
    """Drain the source with trigger(availableNow) into a memory sink and
    return the materialized table (deterministic for tests)."""
    q = (stream_df.writeStream
         .format("memory")
         .queryName(name)
         .outputMode(output_mode)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, "
                 "fmt string, caption string, phash bigint")


def stream_append_images(spark: SparkSession, cfg, checkpoint_dir: str,
                         source_dir: str, payload_table: str,
                         stream_checkpoint: str,
                         max_files_per_trigger: int = 1):
    """Continuous ingest: the streaming productization of the
    reference's ``add`` subcommand (gsearch src/bin/gsearch.rs:488-505)
    — "daily appends" become a file-source stream.

    Every micro-batch of new images (1) rolls forward any torn add
    commit FIRST (``recover_add_commit`` — so the membership checks
    below see the committed truth, not a half-applied one), (2) drops
    ids already present in the build (pruned id_index point lookup —
    this makes a REPLAYED batch a no-op, so the at-least-once file
    source composes with the add's id-clash refusal instead of
    tripping it), (3) drops ids already present in the PAYLOAD table
    before appending (covers the crash window between the payload
    append and the add commit: on replay the payload rows exist but
    the build rows don't — those images skip the append and go
    straight to the add), then (4) appends the missing payloads under
    the table's existing bucket spec and runs the append-only
    :func:`incremental_add`.  Both crash windows therefore replay as
    exact no-ops with no manual repair.

    Returns the StreamingQuery; run with ``trigger(availableNow=True)``
    + ``awaitTermination`` for deterministic drains (tests), or leave
    running against an ingest directory in production.

    Reader caveat: Spark's table-relation cache is PER-SESSION, so a
    session that read the payload table BEFORE the stream must
    ``spark.catalog.refreshTable(payload_table)`` to see the appends
    (the foreachBatch clones refresh their own view; a shared
    metastore/Iceberg catalog deployment refreshes via snapshot
    metadata instead).
    """
    from gsearch_spark.bucketed import append_images_bucketed
    from gsearch_spark.operators.keyidx import lookup_id_index, probe_keys
    from gsearch_spark.operators.pipeline import (incremental_add,
                                                  recover_add_commit)

    from gsearch_spark.operators.pipeline import add_writer_lock

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        # one writer lock per micro-batch spans recovery + payload
        # append + add (incremental_add re-enters it as a no-op), so an
        # out-of-band `add`/`compact` can't interleave mid-batch
        with add_writer_lock(s, checkpoint_dir):
            _on_batch_locked(s, batch_df)

    def _on_batch_locked(s, batch_df: DataFrame) -> None:
        recover_add_commit(s, checkpoint_dir)  # torn commit => roll forward
        batch_df = batch_df.localCheckpoint()
        known = (lookup_id_index(s, f"{checkpoint_dir}/id_index",
                                 batch_df.select("image_id"), cfg)
                 .select("image_id"))
        fresh = batch_df.join(known, "image_id", "left_anti") \
                        .localCheckpoint()
        if fresh.isEmpty():
            return
        # payload-table membership of the (tiny) batch: a key-set probe,
        # so a few ids prune the image_id-bucketed/sorted table by bucket
        # and row group instead of scanning it
        in_payload = probe_keys(s.table(payload_table).select("image_id"),
                                "image_id", fresh)
        to_append = fresh.join(in_payload, "image_id", "left_anti")
        if not to_append.isEmpty():
            append_images_bucketed(s, to_append, payload_table)
        incremental_add(s, cfg, checkpoint_dir, fresh,
                        s.table(payload_table))

    stream = (spark.readStream
              .schema(IMAGES_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    return (stream.writeStream
            .foreachBatch(on_batch)
            .option("checkpointLocation", stream_checkpoint)
            .trigger(availableNow=True)
            .start())
