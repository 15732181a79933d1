"""MySQL-dialect parity: the production DML rendered by ``dbdialect.MYSQL``
must be the reference's MySQL SQL verbatim (``sink/InvoiceRetrySink.java:
33-42``, ``source/InvoiceRetrySource.java:48``), and the sinks/sources must
bind the right parameter shapes under each dialect (delay seconds +
DB-clock "now" for MySQL; absolute client timestamps for SQLite).  The
dialect is the connection factory's, so the jobs handed a MySQL factory
must send MySQL SQL end to end."""

from __future__ import annotations

import json

import pytest

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.dbdialect import (
    DIALECTS,
    MYSQL,
    MySQLConnFactory,
    SQLITE,
    factory_dialect,
)
from flink_invoice_processor_spark.sinks.dbapi import (
    SqliteConnFactory,
    write_retry_emissions,
)
from flink_invoice_processor_spark.sources.dbapi import claim_retry_batch
from flink_invoice_processor_spark.streaming.jobs import (
    request_micro_batch,
    response_cycle,
)

CFG = EngineConfig()

RETRY_EMIT_SCHEMA = (
    "tag string, queue_id long, sid string, syncid string, job string, "
    "payload string, error_message string, error_code string, "
    "retry_count tinyint, state string, next_retry_delay_s long"
)

# The reference's prepared statements, byte-for-byte
# (sink/InvoiceRetrySink.java:33,39,42 — qmark JDBC placeholders).
REF_UPDATE = (
    "UPDATE invoice_retry SET error_message = ?, error_code = ?, "
    "next_retry_time = CURRENT_TIMESTAMP + INTERVAL ? SECOND, "
    "retry_count = ?, state = 'PENDING' "
    "WHERE id = ? AND state = 'PROCESSING'"
)
REF_DELETE = "DELETE FROM invoice_retry WHERE id = ? AND state = 'PROCESSING'"
REF_ERROR_LOG = (
    "INSERT INTO invoice_error_log (payload, error_message, error_code, "
    "attempt, sid, syncid) VALUES (?, ?, ?, ?, ?, ?)"
)


def to_qmark(sql: str) -> str:
    return sql.replace("%s", "?")


def test_mysql_retry_update_matches_reference_verbatim():
    assert to_qmark(MYSQL.retry_update_sql()) == REF_UPDATE


def test_mysql_retry_delete_and_error_log_match_reference():
    assert to_qmark(MYSQL.retry_delete_sql()) == REF_DELETE
    assert to_qmark(MYSQL.error_log_insert_sql()) == REF_ERROR_LOG


def test_mysql_retry_insert_matches_reference_columns_and_interval():
    # InvoiceRetrySink.java:36 — same table, same column list, same
    # server-side interval in the VALUES slot for next_retry_time.  (The
    # reference binds retry_count/state as parameters; ours pins the only
    # values it ever sends, 0 and 'PENDING' — same rows written.)
    sql = MYSQL.retry_insert_sql()
    assert sql.startswith(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, "
        "next_retry_time, error_message, error_code, retry_count, state) "
    )
    assert "CURRENT_TIMESTAMP + INTERVAL %s SECOND" in sql
    assert sql.count("%s") == 7  # 6 value params + 1 interval delay


def test_sqlite_dialect_binds_timestamp_client_side():
    sql = SQLITE.retry_insert_sql()
    assert "INTERVAL" not in sql and "CURRENT_TIMESTAMP" not in sql
    assert sql.count("?") == 7
    with pytest.raises(ValueError):
        SQLITE.interval_expr()


def test_dialect_registry():
    assert set(DIALECTS) == {"sqlite", "mysql"}
    assert DIALECTS["mysql"].placeholder == "%s"
    assert DIALECTS["sqlite"].placeholder == "?"


class RecordingConnFactory:
    """Picklable fake DBAPI backend: every execute/executemany appends
    (sql, params) JSON lines to a shared file, so statements issued inside
    Spark's Python workers are observable from the test process."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self):
        factory = self

        class Cursor:
            def execute(self, sql, params=()):
                factory._log(sql, [list(params)])

            def executemany(self, sql, seq):
                factory._log(sql, [list(p) for p in seq])

            def fetchall(self):
                return []

        class Conn:
            def cursor(self):
                return Cursor()

            def commit(self):
                pass

            def rollback(self):
                pass

            def close(self):
                pass

        return Conn()

    def _log(self, sql, param_lists):
        with open(self.path, "a") as f:
            for p in param_lists:
                f.write(json.dumps({"sql": sql, "params": p}, default=str) + "\n")

    def read(self):
        with open(self.path) as f:
            return [json.loads(line) for line in f]


class MySQLRecordingConnFactory(RecordingConnFactory):
    """A recording backend that declares the MySQL dialect, as
    ``MySQLConnFactory`` does."""

    dialect = MYSQL


def test_factory_dialect_attribute():
    assert SqliteConnFactory.dialect is SQLITE
    assert MySQLConnFactory.dialect is MYSQL
    # a factory without the attribute speaks SQLite
    assert factory_dialect(RecordingConnFactory("unused")) is SQLITE


def test_mysql_sink_binds_delay_seconds(spark, tmp_path):
    """Under MYSQL the retry sink must send the reference's server-side DML
    with the *delay in seconds* bound where SQLite binds a timestamp."""
    log = str(tmp_path / "mysql_dml.jsonl")
    emits = spark.createDataFrame(
        [
            ("CREATE", None, "s1", "y1", "SendInvoiceJob", "{}", "boom",
             "JsonParseException", None, None, 10),
            ("UPDATE", 7, "s2", "y2", "SendInvoiceJob", "{}", "boom",
             "JsonParseException", 2, None, 40),
        ],
        RETRY_EMIT_SCHEMA,
    ).coalesce(1)
    write_retry_emissions(emits, MySQLRecordingConnFactory(log), CFG)

    stmts = RecordingConnFactory(log).read()
    by_sql = {s["sql"]: s["params"] for s in stmts}
    insert_sql = MYSQL.retry_insert_sql()
    update_sql = MYSQL.retry_update_sql()
    assert insert_sql in by_sql and update_sql in by_sql
    # INSERT params: (sid, syncid, job, payload, delay_s, err_msg, err_code)
    assert by_sql[insert_sql] == [
        "s1", "y1", "SendInvoiceJob", "{}", 10, "boom", "JsonParseException"
    ]
    # UPDATE params: (err_msg, err_code, delay_s, retry_count, queue_id)
    assert by_sql[update_sql] == ["boom", "JsonParseException", 40, 2, 7]


def test_mysql_claim_uses_db_clock(spark, tmp_path):
    """S4 under MYSQL: due predicate is the reference's
    ``next_retry_time <= CURRENT_TIMESTAMP`` with only the job bound."""
    log = str(tmp_path / "mysql_claim.jsonl")
    df = claim_retry_batch(
        spark, MySQLRecordingConnFactory(log), "SendInvoiceJob", CFG
    )
    assert df.count() == 0
    (stmt,) = RecordingConnFactory(log).read()
    assert "next_retry_time <= CURRENT_TIMESTAMP" in stmt["sql"]
    assert "%s" in stmt["sql"] and "?" not in stmt["sql"]
    assert stmt["params"] == ["SendInvoiceJob"]


def test_mysql_conn_factory_is_import_gated():
    factory = MySQLConnFactory("db.example.internal", "u", "", "invoices")
    with pytest.raises(ImportError, match="pymysql|mysql-connector"):
        factory()


def test_table_queue_mysql_backend_wires_factory():
    from flink_invoice_processor_spark.sources.stream import (
        TableQueueStreamReader,
    )

    r = TableQueueStreamReader(
        {
            "backend": "mysql",
            "host": "db.example.internal",
            "user": "u",
            "password": "",
            "database": "invoices",
            "table": "async_inv_out",
        }
    )
    assert isinstance(r.conn_factory, MySQLConnFactory)
    assert r.conn_factory.dialect is MYSQL
    with pytest.raises(ImportError):
        r.conn_factory()


def test_mysql_reap_uses_db_clock(spark, tmp_path):
    """The stale-claim sweep must compare in the SAME clock domain the
    claim stamped: under MYSQL the lease start is CURRENT_TIMESTAMP, so
    the cutoff must be DB-side arithmetic, never a client datetime."""
    log = str(tmp_path / "mysql_reap.jsonl")
    claim_retry_batch(
        spark, MySQLRecordingConnFactory(log), "SendInvoiceJob", CFG,
        reap_processing_after_s=60,
    )
    stmts = RecordingConnFactory(log).read()
    reap = [s for s in stmts if "PROCESSING" in s["sql"] and "PENDING" in s["sql"]][0]
    assert "CURRENT_TIMESTAMP - INTERVAL %s SECOND" in reap["sql"]
    assert reap["params"] == ["SendInvoiceJob", 60]


def test_jobs_send_mysql_sql_to_a_mysql_factory(spark, tmp_path):
    """Both jobs take the dialect from the connection factory: with a
    MySQL factory every statement of a request micro-batch and of a
    response cycle uses ``%s`` parameters, and the stale-claim reap runs
    on the DB clock."""
    log = str(tmp_path / "mysql_jobs.jsonl")
    factory = MySQLRecordingConnFactory(log)
    packets = spark.createDataFrame(
        [
            (json.dumps({"inv_pack": [
                {"api_type": 10, "sid": "S-1", "syncid": "Y-1", "stax": "111"},
                {"api_type": 10, "sid": "S-2", "inv": {"x": 1}},  # no stax
            ]}),),
        ],
        "value string",
    )
    request_micro_batch(packets, spark, CFG, factory)
    assert response_cycle(spark, CFG, factory, lambda df: df.count()) == (0, 0)

    stmts = factory.read()
    sqls = {s["sql"] for s in stmts}
    assert MYSQL.retry_insert_sql() in sqls  # the no-stax element's CREATE
    assert any(s.startswith("INSERT INTO async_inv_in ") for s in sqls)
    assert any("FROM async_inv_in WHERE" in s for s in sqls)
    assert any("FROM async_inv_out WHERE" in s for s in sqls)
    for sql in sqls:
        assert "%s" in sql and "?" not in sql, sql
    reaps = [s for s in sqls if s.startswith("UPDATE invoice_retry SET state = 'PENDING'")]
    assert len(reaps) == 1  # one statement, run by both jobs
    assert "CURRENT_TIMESTAMP - INTERVAL %s SECOND" in reaps[0]
    assert sorted(s["params"] for s in stmts if s["sql"] == reaps[0]) == [
        ["REQUEST", CFG.processing_lease_s],
        ["RESPONSE", CFG.processing_lease_s],
    ]
