"""The two reference jobs, composed from the pure operators.

- ``run_invoice_request_job``  ≙ ``job/InvoiceRequest.java:26-161``:
  Kafka packets (+ claimed retry rows) → parse/explode/validate/derive →
  valid rows to the ``async_inv_in`` insert sink, failures to the
  retry-queue sink.
- ``run_invoice_response_job`` ≙ ``job/InvoiceResponse.java:29-166``:
  poll ``async_inv_in``/``async_inv_out`` (+ claimed RESPONSE retry rows)
  → envelope → dedup/validate/batch/assemble → packets to Kafka,
  successes to the transactional log-and-delete sink, failures to the
  retry-queue sink.  Kafka publish happens before the DB transaction for
  each micro-batch, preserving the reference's ordering caveat
  (``InvoiceResponseBatchProcessor.java:205-218`` — at-least-once with
  downstream dedup, not atomic).

Both jobs run as **micro-batch loops**: the streaming query's trigger (or
the driver loop's poll interval) plays the role of the reference's
processing-time timers; the batch envelope's count cap is enforced inside
each micro-batch by ``assign_batch_seq``.  The strict per-key
count-or-timeout batcher (``applyInPandasWithState``) lives in
``streaming/batcher.py`` for users who need mid-interval flushes.

The response path is written once: ``response_micro_batch`` is the body
of both the ``response_cycle`` driver loop and the streaming
``run_invoice_response_stream_job``.  The packet sink is an injected
callable and every source and sink takes its SQL dialect from the
connection factory, so the same wiring runs against MySQL in production
(``dbdialect.MySQLConnFactory``), SQLite in tests, and a collector in
benchmarks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import EngineConfig, RETRY_JOB_REQUEST, RETRY_JOB_RESPONSE
from ..operators.request import parse_request_packets, transform_retry_records
from ..operators.response import (
    process_response_batch,
    transform_response_retry_records,
)
from ..sinks.dbapi import (
    ConnFactory,
    write_invoice_records,
    write_log_and_delete,
    write_retry_emissions,
)
from ..sources.dbapi import (
    claim_retry_batch,
    poll_async_inv_in,
    poll_async_inv_out,
)
from .kafka import kafka_request_stream

#: how long the stream job remembers an envelope key after its first
#: arrival, dropping re-deliveries within that horizon
RESPONSE_DEDUP_DELAY = "10 minutes"


def request_micro_batch(
    packets_df: DataFrame,
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
) -> None:
    """One micro-batch of the request job: new packets + claimed retry rows
    → insert valid records, enqueue failures.  Usable directly as the body
    of ``foreachBatch``."""
    valid, retry = parse_request_packets(packets_df, cfg)
    # the reap lease revives claims orphaned by an epoch that died
    # between its claim commit and its sink (the replayed epoch
    # cannot re-claim them itself — the flip already committed)
    claimed = claim_retry_batch(
        spark, conn_factory, RETRY_JOB_REQUEST, cfg,
        reap_processing_after_s=cfg.processing_lease_s,
    )
    r_valid, r_retry = transform_retry_records(claimed, cfg)
    write_invoice_records(valid.unionByName(r_valid), conn_factory, cfg)
    write_retry_emissions(retry.unionByName(r_retry), conn_factory, cfg)


def run_invoice_request_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    checkpoint_dir: str,
    source: DataFrame | None = None,
):
    """Start the streaming request job.  ``source`` defaults to the Kafka
    reader; tests inject a file/memory stream with a ``value`` column."""
    stream = source if source is not None else kafka_request_stream(spark, cfg)

    def on_batch(df: DataFrame, epoch_id: int) -> None:
        request_micro_batch(df, spark, cfg, conn_factory)

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{cfg.mysql_batch_interval_ms} milliseconds")
        .start()
    )


def response_micro_batch(
    envelope: DataFrame,
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
) -> None:
    """One micro-batch of the response job: envelope rows + claimed
    RESPONSE retry rows → packets to ``packet_sink``, successes to the
    log-and-delete sink, failures to the retry-queue sink.  The body of
    both ``response_cycle`` and the stream job's ``foreachBatch``."""
    # claim + revive due RESPONSE retries each batch — without this,
    # retry rows the job itself enqueues would sit PENDING forever.  The
    # lease-swept claim revives rows a prior batch claimed but died
    # before sinking, once the lease (ten trigger beats) expires.
    claimed = claim_retry_batch(
        spark, conn_factory, RETRY_JOB_RESPONSE, cfg,
        reap_processing_after_s=cfg.processing_lease_s,
    )
    recovered, retry_emits = transform_response_retry_records(claimed, cfg)
    result = process_response_batch(envelope.unionByName(recovered), cfg)

    # Step 1: Kafka first, Step 2: DB transaction — the reference's ordering
    # (InvoiceResponseBatchProcessor.java:205-218)
    packet_sink(result.packets)
    write_log_and_delete(result.db_ops, conn_factory, cfg)
    write_retry_emissions(
        result.retry.unionByName(retry_emits), conn_factory, cfg
    )


def response_cycle(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    last_in_id: int = 0,
    last_out_id: int = 0,
) -> tuple[int, int]:
    """One poll-process-sink cycle of the response job; returns the advanced
    (inv_in, inv_out) high-water marks.  The driver loop calls this every
    ``mysql.polling.interval.ms`` (500 ms in the reference); each cycle is
    one "batch envelope" window.
    """
    from ..operators.response import make_response_envelope

    inv_in, last_in_id = poll_async_inv_in(spark, conn_factory, cfg, last_in_id)
    inv_out, last_out_id = poll_async_inv_out(spark, conn_factory, cfg, last_out_id)
    response_micro_batch(
        make_response_envelope(inv_in, inv_out), spark, cfg, conn_factory,
        packet_sink,
    )
    return last_in_id, last_out_id


def run_invoice_response_stream_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    checkpoint_dir: str,
):
    """The response job as ONE Structured Streaming query: both queue
    tables via the ``table_queue`` streaming source (offsets in the
    checkpoint, reading the database ``conn_factory`` connects to),
    arrival-time cross-batch dedup, then ``response_micro_batch`` inside
    ``foreachBatch``.

    This is the fully-streaming alternative to the ``response_cycle``
    driver loop: same micro-batch body, but high-water marks and dedup
    state are durable in the checkpoint, and the trigger interval
    (``response.batch.timeout.ms``) plays the reference's batch-timeout
    role (``InvoiceResponseBatchProcessor.java:56``).  Returns the started
    ``StreamingQuery``.
    """
    from ..operators.response import make_response_envelope
    from ..sources.stream import TableQueueDataSource, table_queue_options
    from .dedup import streaming_dedup

    spark.dataSource.register(TableQueueDataSource)
    options = table_queue_options(conn_factory)

    def queue_stream(table: str) -> DataFrame:
        return (
            spark.readStream.format("table_queue")
            .options(**options)
            .option("table", table)
            .option("fetch_size", str(cfg.mysql_fetch_size))
            .load()
        )

    envelope = make_response_envelope(
        queue_stream("async_inv_in"), queue_stream("async_inv_out")
    )
    # Dedup on ARRIVAL time, not created_date: the two queue tables drain
    # independently, and a backlogged table's rows can carry created_date
    # hours behind the live table's — an event-time watermark would call
    # them "late", silently drop them, and the source offset (already
    # advanced) would never re-read them.  The per-micro-batch timestamp
    # is monotone, so nothing is ever late, state stays bounded by the
    # same delay, and the dedup horizon becomes "within RESPONSE_DEDUP_DELAY
    # of first ARRIVAL" — which is also closer to the reference's
    # memory-lifetime dedup set than created_date ever was.
    envelope = envelope.withColumn("_arrival_ts", F.current_timestamp())
    deduped = streaming_dedup(
        envelope, "_arrival_ts", RESPONSE_DEDUP_DELAY
    ).drop("_arrival_ts")

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        response_micro_batch(
            batch_df, batch_df.sparkSession, cfg, conn_factory, packet_sink
        )

    return (
        deduped.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(
            processingTime=f"{cfg.response_batch_timeout_ms} milliseconds"
        )
        .start()
    )


def run_invoice_response_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    cycles: int | None = None,
    sleep_s: float | None = None,
) -> None:
    """Driver loop for the response job: poll → process → sink, advancing
    the id high-water marks (the reference keeps them in memory too,
    ``AsyncInvInSource.java:19``; persist externally for restart safety).
    ``cycles=None`` loops forever; tests pass a small count."""
    import time

    if sleep_s is None:
        sleep_s = cfg.mysql_polling_interval_ms / 1000.0
    last_in = last_out = 0
    n = 0
    while cycles is None or n < cycles:
        last_in, last_out = response_cycle(
            spark, cfg, conn_factory, packet_sink, last_in, last_out
        )
        n += 1
        if cycles is None or n < cycles:
            time.sleep(sleep_s)
