"""End-to-end fully-streaming response job: table_queue sources → envelope →
cross-batch dedup → batch/assemble/route → Kafka-equivalent sink then
transactional log-and-delete, all inside one Structured Streaming query;
due RESPONSE retry rows are revived into the same micro-batches."""

from __future__ import annotations

import json
import sqlite3
import time

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory
from flink_invoice_processor_spark.streaming.jobs import (
    run_invoice_response_stream_job,
)

from test_sinks_sources import DDL

CFG = EngineConfig(response_batch_timeout_ms=300)


def test_streaming_response_end_to_end(spark, tmp_path):
    db_path = str(tmp_path / "engine.db")
    conn = sqlite3.connect(db_path)
    for ddl in DDL:
        conn.execute(ddl)
    # two completed fpt rows + one gdt row, all ready for the response job
    conn.execute(
        "INSERT INTO async_inv_in (tax_schema, inv, api_type, res_type, "
        "fpt_einvoice_res_code, fpt_einvoice_res_json, retry, state, group_id, "
        "created_date, sid, syncid) VALUES "
        "('111', '{}', 10, 2, '200', '{\"ok\":1}', 0, 4, 0, '2026-01-01 00:00:01', 'S-1', 'Y-1'), "
        "('222', '{}', 11, 2, '200', '{\"ok\":2}', 0, 4, 1, '2026-01-01 00:00:02', 'S-2', 'Y-2')"
    )
    conn.execute(
        "INSERT INTO async_inv_out (tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type, created_date) "
        "VALUES ('333', '{\"gdt\":2}', 'S-9', 'Y-9', 0, 0, 0, 2, 10, "
        "'2026-01-01 00:00:03')"
    )
    # one due RESPONSE retry row whose inv_in payload now validates
    retry_payload = json.dumps({
        "id": 77, "api_type": 12, "sid": "S-R", "syncid": "Y-R",
        "tax_schema": "444", "res_type": 2, "retry": 1, "group_id": 0,
        "fpt_einvoice_res_code": "200", "fpt_einvoice_res_json": '{"ok":3}',
        "created_date": "2026-01-01 00:00:04",
    })
    conn.execute(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
        "error_code, retry_count, state, next_retry_time) VALUES "
        "('S-R', 'Y-R', 'RESPONSE', ?, 'boom', 'Exception', 0, 'PENDING', "
        "'2020-01-01 00:00:00')",
        (retry_payload,),
    )
    conn.commit()
    conn.close()

    factory = SqliteConnFactory(db_path)
    collected = []

    def packet_sink(packets_df):
        collected.extend(packets_df.collect())

    def succ_count():
        conn = sqlite3.connect(db_path)
        try:
            return conn.execute(
                "SELECT count(*) FROM async_inv_succ_log"
            ).fetchone()[0]
        finally:
            conn.close()

    def retry_count():
        conn = sqlite3.connect(db_path)
        try:
            return conn.execute("SELECT count(*) FROM invoice_retry").fetchone()[0]
        finally:
            conn.close()

    q = run_invoice_response_stream_job(
        spark, CFG, factory, packet_sink, str(tmp_path / "ckpt")
    )
    try:
        # wait for the END of the batch (the retry-queue DML), not just the
        # packet sink — stopping mid-batch interrupts the DB writes
        deadline = time.time() + 90
        while time.time() < deadline and (succ_count() < 4 or retry_count()):
            time.sleep(0.5)
    finally:
        q.stop()

    by_topic = {r.topic: json.loads(r.packet_json) for r in collected}
    crt = by_topic["mtt.crt.response"]["inv_pack_res"]
    assert {i["sid"] for i in crt} == {"S-1", "S-9"}  # fpt + gdt, same envelope
    assert next(i for i in crt if i["sid"] == "S-1")["status"] == "success"
    assert next(i for i in crt if i["sid"] == "S-9")["res_resource"] == "gdt"
    assert [i["sid"] for i in by_topic["mtt.upd.response"]["inv_pack_res"]] == ["S-2"]
    # the revived retry row's item reached the packet sink
    (revived,) = by_topic["mtt.del.response"]["inv_pack_res"]
    assert revived["sid"] == "S-R" and revived["status"] == "success"

    # log-and-delete ran transactionally: success log filled, sources drained
    conn = sqlite3.connect(db_path)
    assert {r[0] for r in conn.execute("SELECT sid FROM async_inv_succ_log")} == {
        "S-1", "S-2", "S-9", "S-R"
    }
    assert conn.execute("SELECT count(*) FROM async_inv_in").fetchone()[0] == 0
    assert conn.execute("SELECT count(*) FROM async_inv_out").fetchone()[0] == 0
    # and its queue row was deleted
    assert conn.execute("SELECT count(*) FROM invoice_retry").fetchone()[0] == 0
    conn.close()
