"""Relational sinks over a DBAPI connection factory.

The reference writes MySQL through three sinks; each is rebuilt here as a
function usable standalone (batch) or inside ``foreachBatch`` (streaming):

- W1 batched insert into ``async_inv_in``
  (``job/InvoiceRequest.java:111-157``);
- W3 tag-dispatched retry-queue DML + dead-letter
  (``sink/InvoiceRetrySink.java:26-124``);
- W4 transactional log-and-delete
  (``sink/TransactionalLogAndDeleteSink.java:26-183``).

Portability: SQL is rendered per-:class:`~..dbdialect.Dialect`, taken
from the connection factory's ``dialect`` attribute
(:func:`~..dbdialect.factory_dialect`).  The
:data:`~..dbdialect.SQLITE` dialect computes the absolute
``next_retry_time`` executor-side and binds it as a plain timestamp
parameter (SQLite has no ``INTERVAL``); the :data:`~..dbdialect.MYSQL`
dialect emits the reference's exact server-side DML
(``CURRENT_TIMESTAMP + INTERVAL %s SECOND``,
``sink/InvoiceRetrySink.java:33,36``) with ``%s`` parameters, binding the
delay seconds instead.  ``conn_factory`` must be a picklable zero-arg
callable returning a DBAPI connection — executors open their own
connections (``SqliteConnFactory`` here, ``dbdialect.MySQLConnFactory``
for production).

Delivery semantics: all three writers are idempotent-or-conditioned the
same way the reference is — inserts are append-only logs, UPDATE/DELETE are
conditioned on ``state='PROCESSING'`` (the claim marker), and log-and-delete
deletes by primary key — so micro-batch replay after failure yields the
reference's at-least-once behavior with downstream dedup.

Deliberate upgrade: the reference opens one transaction *per record* in the
retry sink (``InvoiceRetrySink.java:47-77``); here each partition commits one
transaction per tag-group batch — same observable rows, fewer round trips
(the difference at 100 TB between a sink and a bottleneck).
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from ..config import (
    EngineConfig,
    TAG_CREATE,
    TAG_DELETE,
    TAG_MAX_RETRY,
    TAG_UPDATE,
)
from ..dbdialect import SQLITE, factory_dialect

ConnFactory = Callable[[], object]


class SqliteConnFactory:
    """Picklable SQLite connection factory (tests / local stand-in for the
    reference's MySQL).  A class instead of a closure so executors resolve
    it by import, not by value."""

    dialect = SQLITE

    def __init__(self, path: str, timeout: float = 30.0):
        self.path = path
        self.timeout = timeout

    def __call__(self):
        import sqlite3

        return sqlite3.connect(self.path, timeout=self.timeout)

#: Insert column list for async_inv_in — mirrors the reference's 18-column
#: INSERT (job/InvoiceRequest.java:111-116).
INVOICE_INSERT_COLUMNS = [
    "tax_schema", "inv", "api_type", "res_type",
    "fpt_einvoice_res_code", "fpt_einvoice_res_msg", "fpt_einvoice_res_json",
    "retry", "state", "group_id", "created_date", "updated_date",
    "callback_res_code", "callback_res_msg", "callback_res_json",
    "sid", "syncid", "process_kafka",
]

SUCC_LOG_COLUMNS = [
    "tax_schema", "api_type", "res_type", "fpt_einvoice_res_code",
    "fpt_einvoice_res_msg", "retry", "group_id", "created_date",
    "updated_date", "callback_res_code", "callback_res_msg", "sid",
    "syncid", "gdt_res",
]


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _with_retries(fn: Callable[[], None], conn, max_retries: int) -> None:
    """App-level retry loop with linear backoff and rollback, mirroring
    ``InvoiceRetrySink.java:47-77`` / ``TransactionalLogAndDeleteSink.java
    :40-62`` (sleep ``1000ms * attempt``; raise after max+1 attempts)."""
    attempt = 0
    while True:
        try:
            fn()
            return
        except Exception:
            attempt += 1
            try:
                conn.rollback()
            except Exception:
                pass
            if attempt > max_retries:
                raise
            time.sleep(min(attempt, 5))  # linear backoff, capped for tests


def write_invoice_records(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    table: str = "async_inv_in",
) -> None:
    """W1: batched insert of INVOICE_MYSQL_RECORD rows.

    Distributed: each partition opens its own connection and inserts in
    ``mysql.batch.size`` chunks (reference batch 2000 / flush 5000 ms /
    3 retries, ``job/InvoiceRequest.java:144-148``; the flush interval is
    the micro-batch trigger in streaming mode).
    """
    cfg = cfg or EngineConfig()
    cols = INVOICE_INSERT_COLUMNS
    sql = factory_dialect(conn_factory).insert_sql(table, cols)
    batch_size = cfg.mysql_batch_size
    max_retries = cfg.mysql_max_retries

    def write_partition(rows: Iterable) -> None:
        conn = conn_factory()
        try:
            cur = conn.cursor()
            chunk: list[tuple] = []

            def flush() -> None:
                if not chunk:
                    return
                _with_retries(
                    lambda: (cur.executemany(sql, chunk), conn.commit()),
                    conn,
                    max_retries,
                )
                chunk.clear()

            for row in rows:
                chunk.append(tuple(row[c] for c in cols))
                if len(chunk) >= batch_size:
                    flush()
            flush()
        finally:
            conn.close()

    df.select(INVOICE_INSERT_COLUMNS).foreachPartition(write_partition)


def write_retry_emissions(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
) -> None:
    """W3: tag-dispatched retry-queue DML (``sink/InvoiceRetrySink.java``).

    - CREATE    → INSERT queue row, ``next_retry_time = now + delay``
                  (reference computes it in SQL, ``:36``);
    - UPDATE    → conditional UPDATE ``WHERE id=? AND state='PROCESSING'``
                  re-arming the row with backoff (``:33``);
    - DELETE    → conditional DELETE (``:39``);
    - MAX_RETRY → INSERT dead-letter with ``attempt = retry_count - 1``
                  (the reference's off-by-design at ``:119``) + DELETE the
                  queue row in the same transaction (``:115-124``).

    Under a ``server_side_interval`` dialect (MySQL) the bound parameter is
    the delay in seconds and the DB clock defines "now" — exactly the
    reference; otherwise the absolute timestamp ``now + delay`` is bound.
    """
    cfg = cfg or EngineConfig()
    dialect = factory_dialect(conn_factory)
    insert_sql = dialect.retry_insert_sql()
    update_sql = dialect.retry_update_sql()
    delete_sql = dialect.retry_delete_sql()
    error_sql = dialect.error_log_insert_sql()
    server_side = dialect.server_side_interval
    max_retries = cfg.mysql_max_retries
    fixed_now = now

    def write_partition(rows: Iterable) -> None:
        conn = conn_factory()
        try:
            cur = conn.cursor()
            base = fixed_now or _utcnow()
            creates, updates, deletes, dead = [], [], [], []
            for r in rows:
                delay = r["next_retry_delay_s"]
                when = (
                    delay
                    if server_side
                    else base + timedelta(seconds=delay)
                    if delay is not None
                    else None
                )
                if r["tag"] == TAG_CREATE:
                    creates.append(
                        (r["sid"], r["syncid"], r["job"], r["payload"], when,
                         r["error_message"], r["error_code"])
                    )
                elif r["tag"] == TAG_UPDATE:
                    updates.append(
                        (r["error_message"], r["error_code"], when,
                         r["retry_count"], r["queue_id"])
                    )
                elif r["tag"] == TAG_DELETE:
                    deletes.append((r["queue_id"],))
                elif r["tag"] == TAG_MAX_RETRY:
                    dead.append(
                        ((r["payload"], r["error_message"], r["error_code"],
                          r["retry_count"] - 1, r["sid"], r["syncid"]),
                         (r["queue_id"],))
                    )

            def txn() -> None:
                if creates:
                    cur.executemany(insert_sql, creates)
                if updates:
                    cur.executemany(update_sql, updates)
                if deletes:
                    cur.executemany(delete_sql, deletes)
                for err_params, del_params in dead:
                    cur.execute(error_sql, err_params)
                    cur.execute(delete_sql, del_params)
                conn.commit()

            _with_retries(txn, conn, max_retries)
        finally:
            conn.close()

    df.foreachPartition(write_partition)


def write_log_and_delete(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
) -> None:
    """W4: transactional success-log + source-row delete
    (``sink/TransactionalLogAndDeleteSink.java:65-115``).

    Per partition, in ONE transaction: insert ``async_inv_succ_log`` rows
    (inv_in keeps its fpt/callback fields and null ``gdt_res``; inv_out the
    mirror image, ``:134-170``; ``created_date`` is the write time,
    ``updated_date`` always NULL, ``:70,125``) and delete the source rows
    by id.  Idempotent under replay because the delete is by primary key.
    """
    cfg = cfg or EngineConfig()
    dialect = factory_dialect(conn_factory)
    insert_sql = dialect.insert_sql("async_inv_succ_log", SUCC_LOG_COLUMNS)
    delete_in_sql = dialect.delete_by_id_sql("async_inv_in")
    delete_out_sql = dialect.delete_by_id_sql("async_inv_out")
    max_retries = cfg.mysql_max_retries
    fixed_now = now

    def write_partition(rows: Iterable) -> None:
        conn = conn_factory()
        try:
            cur = conn.cursor()
            base = fixed_now or _utcnow()
            logs, del_in, del_out = [], [], []
            for r in rows:
                is_in = r["record_type"] == "inv_in"
                logs.append(
                    (
                        r["tax_schema"], r["api_type"], r["res_type"],
                        r["fpt_einvoice_res_code"] if is_in else None,
                        r["fpt_einvoice_res_msg"] if is_in else None,
                        r["retry"], r["group_id"], base, None,
                        r["callback_res_code"] if is_in else None,
                        r["callback_res_msg"] if is_in else None,
                        r["sid"], r["syncid"],
                        None if is_in else r["gdt_res"],
                    )
                )
                (del_in if is_in else del_out).append((r["id"],))

            def txn() -> None:
                if logs:
                    cur.executemany(insert_sql, logs)
                if del_in:
                    cur.executemany(delete_in_sql, del_in)
                if del_out:
                    cur.executemany(delete_out_sql, del_out)
                conn.commit()

            _with_retries(txn, conn, max_retries)
        finally:
            conn.close()

    df.foreachPartition(write_partition)
