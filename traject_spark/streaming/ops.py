"""Streaming operators: the CLI's NDJSON -> pipeline -> Solr ingest,
exact dedup over a stream, and a bounded-run harness.

- ``stream_marc_to_solr``: ``readStream`` marc-in-json NDJSON through the
  same narrow mapping select as batch, ``foreachBatch`` into the batch
  Solr sink (the CLI's ``-s streaming=true`` path).
- ``stream_dedup``: ``dropDuplicates`` keyed state, first arrival wins.
- ``run_stream_to_table``: drain a bounded (``availableNow``) stream into
  an in-memory table, the local test/correctness harness.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


def stream_dedup(df: DataFrame, *keys: str) -> DataFrame:
    """Streaming exact-dedup: keyed state holds one entry per seen key,
    first arrival wins (the streaming twin of corpus.exact_dedup). State
    grows with the number of distinct keys seen and is never evicted."""
    return df.dropDuplicates(list(keys))


def stream_marc_to_solr(
    spark: SparkSession,
    input_path: str,
    pipeline,
    url: str,
    checkpoint: str,
    id_tag: str = "001",
    engine: str = "python",
    max_files_per_trigger: Optional[int] = None,
    available_now: bool = True,
    await_termination: bool = True,
    **solr_kwargs,
):
    """Streaming ingest parity for the flagship path: ``readStream``
    marc-in-json NDJSON -> ``pipeline.apply`` (the same narrow mapping
    select as batch) -> ``foreachBatch`` into the batch Solr sink.

    The checkpoint gives exactly-once FILE tracking (a restarted query
    never re-reads a completed micro-batch); the sink itself is
    at-least-once on task retry and idempotent via Solr upsert-by-id —
    the same contract as the batch writer. ``available_now=True`` drains
    everything currently in the directory then stops (the batch-parity
    mode, and what the CLI uses); ``False`` runs a continuous
    micro-batch query over a growing drop directory — pair it with
    ``max_files_per_trigger`` to bound batch size. ``await_termination``
    blocks until the query ends in EITHER mode (for continuous mode that
    is "forever, until stopped/failed" — the standard Structured
    Streaming driver-keepalive); pass ``await_termination=False`` to
    manage the query handle yourself, and keep the driver alive, or the
    unawaited continuous query dies when the script exits.

    ``max_skipped`` is a PER-PROCESS budget: the running skip count
    lives in driver memory, not in the checkpoint, so a
    checkpoint-restarted query starts a fresh allowance even though
    file progress resumes — total skipped docs across restarts can
    exceed one budget. Persist the count next to the checkpoint (and
    seed a smaller ``max_skipped``) if a cross-restart cap matters.

    Returns the StreamingQuery (already terminated when awaited and the
    query drained/stopped).
    """
    from traject_spark.marc.io import read_marc_json_stream
    from traject_spark.writers import solr_commit, solr_json_writer

    src = read_marc_json_stream(
        spark, input_path, id_tag=id_tag, engine=engine,
        max_files_per_trigger=max_files_per_trigger,
    )
    out = pipeline.apply(src)
    # commit once at stream end, NOT per micro-batch: forwarding
    # commit_on_close into the per-batch writer would issue a full Solr
    # commit (minutes on a large core) after EVERY micro-batch
    commit_close = bool(solr_kwargs.pop("commit_on_close", False))
    max_skipped = solr_kwargs.pop("max_skipped", 0)
    skipped_total = [0]
    # ONE accumulator for the whole stream: PySpark's accumulator
    # registry retains every accumulator until context stop, so letting
    # the writer create one per micro-batch is an unbounded driver leak
    # on a continuous query (the writer returns per-call deltas, so the
    # skip accounting below is unchanged)
    stream_acc = spark.sparkContext.accumulator(0)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # max_skipped is a PER-RUN budget like the batch path's (the
        # reference aborts after max_skipped total, not per write call):
        # each micro-batch gets only the remaining allowance, so N
        # batches cannot silently lose N x max_skipped docs
        remaining = (
            None
            if max_skipped is None
            else max(0, max_skipped - skipped_total[0])
        )
        n = solr_json_writer(
            batch_df, url, max_skipped=remaining,
            skipped_accumulator=stream_acc, **solr_kwargs
        )
        if n:
            # surface per-batch losses: the batch path returns this count
            # to its caller; a streaming run must not lose it silently
            skipped_total[0] += n
            _log.warning(
                "stream_marc_to_solr: batch %s skipped %d docs (%d total)",
                batch_id, n, skipped_total[0],
            )

    writer = (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_termination:
        q.awaitTermination()
        if commit_close:
            solr_commit(
                url,
                basic_auth_user=solr_kwargs.get("basic_auth_user"),
                basic_auth_password=solr_kwargs.get("basic_auth_password"),
            )
    elif commit_close:
        _log.warning(
            "stream_marc_to_solr: commit_on_close requires "
            "await_termination=True (the commit runs after the query "
            "ends) — ignored; use commitWithin via solr_update_args"
        )
    # expose the aggregate for callers holding the query handle
    q.skipped_docs = skipped_total
    return q


def run_stream_to_table(
    sdf: DataFrame,
    name: str,
    output_mode: str = "complete",
    checkpoint: Optional[str] = None,
) -> DataFrame:
    """Run a bounded stream to completion (availableNow) into an in-memory
    table and return it. Production sinks swap format for parquet/Kafka or
    ``foreachBatch`` into a batch writer (e.g. writers.solr_json_writer);
    the memory sink is the local test/correctness harness."""
    writer = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return sdf.sparkSession.table(name)
