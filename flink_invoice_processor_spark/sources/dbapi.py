"""Polling / claiming relational sources.

The reference implements three hand-rolled Flink ``RichSourceFunction``s
that poll MySQL; Spark has no built-in streaming JDBC source, so these are
rebuilt as *poll functions* driven either by a driver loop (availableNow
micro-batches — the shape used by the streaming jobs) or called directly in
batch tests:

- S2 ``poll_async_inv_in``  — ``source/AsyncInvInSource.java:51-103``:
  ``SELECT ... WHERE <ready> AND id > ? ORDER BY id ASC LIMIT fetchSize``
  (``:55``), advancing an id high-water mark (the Structured-Streaming
  "offset" of this source).
- S3 ``poll_async_inv_out`` — ``source/AsyncInvOutSource.java:51-105``:
  the same fetch with the ``async_inv_out`` ready predicate.
- S4 ``claim_retry_batch``  — ``source/InvoiceRetrySource.java:44-99``:
  ``SELECT ... WHERE state = 'PENDING' AND next_retry_time <= now AND
  job = ? ORDER BY next_retry_time LIMIT ?`` (``:48``), then
  ``UPDATE ... SET state = 'PROCESSING'`` for the claimed ids in one
  transaction (``:76-88``) — the at-most-once claim that keeps two pollers
  from re-processing the same row; rollback on error (``:91-94``).

Both polls and the ``table_queue`` streaming reader (``sources/stream.py``)
share one row-level fetch, :func:`fetch_queue_rows`; the ready predicates
live in :data:`QUEUE_TABLES`.

The predicate + LIMIT are pushed into the database exactly as the reference
pushes them (hand-written WHERE — same place, same effect as Catalyst JDBC
pushdown).  The high-water mark is returned to the caller, who persists it
(the reference keeps it in memory only and loses it on restart —
``AsyncInvInSource.java:35-49`` is commented out; our driver loop can
checkpoint it, a strict upgrade).

Scale note: one poller per table matches the reference (source parallelism
1) and is the right shape for a queue table; for *backfill* of a huge
table use ``spark.read.jdbc(..., partitionColumn="id", numPartitions=N)``
instead — that path needs no custom code.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig, RETRY_STATE_PENDING, RETRY_STATE_PROCESSING
from ..dbdialect import factory_dialect
from ..schemas import ASYNC_INV_IN_RECORD, ASYNC_INV_OUT_RECORD, INVOICE_RETRY_RECORD

ConnFactory = Callable[[], object]

#: queue table → (schema, ready predicate): the reference's hand-written
#: WHEREs (AsyncInvInSource.java:55, AsyncInvOutSource.java:55)
QUEUE_TABLES = {
    "async_inv_in": (ASYNC_INV_IN_RECORD, "res_type = 2 AND state = 4"),
    "async_inv_out": (ASYNC_INV_OUT_RECORD, "res_type = 2 AND state = 0"),
}
_RETRY_COLS = [f.name for f in INVOICE_RETRY_RECORD.fields]


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _coerce(rows: list[tuple], schema) -> list[tuple]:
    """Coerce DBAPI values to the declared Spark types (SQLite hands back
    ISO strings for timestamps and plain ints for bytes)."""
    ts_idx = [i for i, f in enumerate(schema.fields) if f.dataType.typeName() == "timestamp"]
    if not ts_idx:
        return [tuple(r) for r in rows]
    out = []
    for r in rows:
        r = list(r)
        for i in ts_idx:
            if isinstance(r[i], str):
                r[i] = datetime.fromisoformat(r[i])
        out.append(tuple(r))
    return out


def fetch_queue_rows(
    conn_factory: ConnFactory,
    table: str,
    after_id: int,
    upto_id: int | None = None,
    limit: int | None = None,
) -> list[tuple]:
    """Ready rows of a queue table with ``after_id < id [<= upto_id]``, in
    id order, at most ``limit`` of them, timestamps coerced.  The one
    row-level queue fetch behind the poll functions and the ``table_queue``
    streaming reader."""
    schema, ready = QUEUE_TABLES[table]
    q = factory_dialect(conn_factory).placeholder
    cols = ", ".join(f.name for f in schema.fields)
    sql = f"SELECT {cols} FROM {table} WHERE {ready} AND id > {q}"
    params: tuple = (after_id,)
    if upto_id is not None:
        sql += f" AND id <= {q}"
        params += (upto_id,)
    sql += " ORDER BY id ASC"
    if limit is not None:
        sql += f" LIMIT {limit}"
    conn = conn_factory()
    try:
        cur = conn.cursor()
        cur.execute(sql, params)
        rows = cur.fetchall()
    finally:
        conn.close()
    return _coerce(rows, schema)


def _poll(
    spark: SparkSession,
    conn_factory: ConnFactory,
    table: str,
    cfg: EngineConfig | None,
    last_id: int,
) -> tuple[DataFrame, int]:
    cfg = cfg or EngineConfig()
    rows = fetch_queue_rows(conn_factory, table, last_id, limit=cfg.mysql_fetch_size)
    new_last = max((r[0] for r in rows), default=last_id)
    return spark.createDataFrame(rows, QUEUE_TABLES[table][0]), new_last


def poll_async_inv_in(
    spark: SparkSession,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    last_id: int = 0,
) -> tuple[DataFrame, int]:
    """One poll of ``async_inv_in`` past the id high-water mark.

    Returns ``(rows, new_last_id)``; the caller persists ``new_last_id``
    as the stream offset.
    """
    return _poll(spark, conn_factory, "async_inv_in", cfg, last_id)


def poll_async_inv_out(
    spark: SparkSession,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    last_id: int = 0,
) -> tuple[DataFrame, int]:
    """One poll of ``async_inv_out`` past the id high-water mark
    (``AsyncInvOutSource.java:55``)."""
    return _poll(spark, conn_factory, "async_inv_out", cfg, last_id)


def claim_retry_batch(
    spark: SparkSession,
    conn_factory: ConnFactory,
    job: str,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
    reap_processing_after_s: int | None = None,
) -> DataFrame:
    """Claim due retry rows: SELECT due PENDING rows for ``job``, flip them
    to PROCESSING in the same transaction, return them as a DataFrame
    (``InvoiceRetrySource.java:44-99``).  Rows stay invisible to other
    pollers until a sink re-arms (UPDATE→PENDING) or removes them.

    The claim is genuinely at-most-once under CONCURRENT pollers: each
    row's conditional UPDATE (``AND state = 'PENDING'``) is checked via
    rowcount, and only rows whose claim this poller actually won are
    returned — a racing poller that saw the same SELECT snapshot loses
    the UPDATE race and drops the row from its batch (the reference's
    single-threaded source never needed this, its docstring just assumed
    one poller).

    The claim also pushes the row's ``next_retry_time`` forward to the
    claim instant, making it double as the lease start: the stale-claim
    sweep below measures staleness from WHEN THE CLAIM HAPPENED, not from
    the original due time.  (Measuring from the due time re-introduced
    double processing for backlogged rows: a row due two minutes ago that
    was claimed milliseconds ago looked instantly stale to a concurrent
    sweeper.)  Returned rows still carry the pre-claim ``next_retry_time``
    from the SELECT snapshot; a sink that re-arms the row overwrites the
    column with the next backoff anyway, and a reaped row becomes due
    immediately — both exactly what retry semantics want.

    ``reap_processing_after_s`` (optional) runs a stale-claim sweep
    first: PROCESSING rows for this job claimed (see above) at least that
    many seconds ago are flipped back to PENDING.  A claimer that died
    between the claim commit and its sink otherwise strands rows in
    PROCESSING forever; the sweep gives claims a lease.  Size it
    comfortably above the job's trigger interval
    (``EngineConfig.processing_lease_s``) so live epochs never lose rows
    mid-flight.

    Under a ``server_side_interval`` dialect (the factory's, see
    :func:`~..dbdialect.factory_dialect`) the due check is the reference's
    ``next_retry_time <= CURRENT_TIMESTAMP`` (DB clock,
    ``InvoiceRetrySource.java:48``); otherwise "now" is bound client-side.
    """
    cfg = cfg or EngineConfig()
    dialect = factory_dialect(conn_factory)
    q = dialect.placeholder
    when = now or _utcnow()
    due = "CURRENT_TIMESTAMP" if dialect.server_side_interval else q
    select_sql = (
        f"SELECT {', '.join(_RETRY_COLS)} FROM invoice_retry "
        f"WHERE state = '{RETRY_STATE_PENDING}' AND next_retry_time <= {due} "
        f"AND job = {q} ORDER BY next_retry_time LIMIT {cfg.retry_fetch_size}"
    )
    # the claim stamps next_retry_time = claim instant (the lease start
    # the reap sweep measures from — see docstring)
    lease_start = "CURRENT_TIMESTAMP" if dialect.server_side_interval else q
    claim_sql = (
        f"UPDATE invoice_retry SET state = '{RETRY_STATE_PROCESSING}', "
        f"next_retry_time = {lease_start} "
        f"WHERE id = {q} AND state = '{RETRY_STATE_PENDING}'"
    )
    select_params = (job,) if dialect.server_side_interval else (when, job)
    conn = conn_factory()
    try:
        cur = conn.cursor()
        if reap_processing_after_s is not None:
            # the cutoff must live in the SAME clock domain as the lease
            # start the claim stamped: DB clock under server_side_interval
            # (a client-clock cutoff vs a DB-clock lease re-opens the
            # skew-induced instant-reap this dialect exists to prevent),
            # client clock otherwise
            if dialect.server_side_interval:
                cur.execute(
                    f"UPDATE invoice_retry SET state = '{RETRY_STATE_PENDING}' "
                    f"WHERE state = '{RETRY_STATE_PROCESSING}' AND job = {q} "
                    f"AND next_retry_time <= "
                    f"CURRENT_TIMESTAMP - INTERVAL {q} SECOND",
                    (job, int(reap_processing_after_s)),
                )
            else:
                stale_cutoff = (now or _utcnow()) - timedelta(
                    seconds=reap_processing_after_s
                )
                cur.execute(
                    f"UPDATE invoice_retry SET state = '{RETRY_STATE_PENDING}' "
                    f"WHERE state = '{RETRY_STATE_PROCESSING}' AND job = {q} "
                    f"AND next_retry_time <= {q}",
                    (job, stale_cutoff),
                )
        cur.execute(select_sql, select_params)
        rows = cur.fetchall()
        claimed = []
        claim_params_head = () if dialect.server_side_interval else (when,)
        for r in rows:
            cur.execute(claim_sql, (*claim_params_head, r[0]))
            # rowcount 1 = we won the claim; 0 = a concurrent poller did
            if cur.rowcount == 1:
                claimed.append(r)
        conn.commit()
    except Exception:
        try:
            conn.rollback()
        finally:
            conn.close()
        raise
    else:
        conn.close()
    if not claimed:
        return spark.createDataFrame([], INVOICE_RETRY_RECORD)
    return spark.createDataFrame(
        _coerce(claimed, INVOICE_RETRY_RECORD), INVOICE_RETRY_RECORD
    )
