"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import sqlite3
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from perfbench import gen, ledger, metrics, stats, suite  # noqa: E402
from perfbench.gen import EPOCH  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# -- seeded generation ---------------------------------------------------------

def _request_bytes(seed: int) -> bytes:
    g = gen.RequestGen(seed)
    rows, backlog = g.backlog(50, EPOCH)
    sched = g.schedule(4.0, 2.0)
    burst = [g.packet(30) for _ in range(3)]
    return repr((rows, backlog, sched, burst)).encode()


def _response_bytes(seed: int) -> bytes:
    g = gen.ResponseGen(seed)
    events = g.phase(20.0, 2.0, EPOCH, 1.0) + g.phase(40, 0, EPOCH)
    return repr((g.inv_in_rows, events)).encode()


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _request_bytes(7) == _request_bytes(7)
    assert _response_bytes(7) == _response_bytes(7)
    assert _request_bytes(7) != _request_bytes(8)
    assert _response_bytes(7) != _response_bytes(8)
    for d in ("a", "b", "c"):
        gen.write_tables(str(tmp_path / d), 7 if d != "c" else 8, 0.001)
    for name in suite.TABLES:
        a, b, c = (open(tmp_path / d / f"{name}.parquet", "rb").read() for d in "abc")
        assert a == b
        if name not in ("region", "nation"):
            assert a != c


def test_request_variants_are_all_present():
    g = gen.RequestGen(3)
    expects = [x for _, _, xs in g.schedule(8.0, 5.0) for x in xs]
    errors = {x.error for x in expects}
    assert {"stax is null", "sid is null", "api_type is null", None} <= errors
    assert any(x.syncid is None and x.outcome == "in" for x in expects)   # E4
    assert any(x.api_type == gen.API_OUT_OF_DOMAIN for x in expects)


# -- ledger ----------------------------------------------------------------------

@pytest.fixture()
def db(tmp_path):
    from test_sinks_sources import DDL

    path = str(tmp_path / "ledger.db")
    conn = sqlite3.connect(path)
    for ddl in DDL:
        conn.execute(ddl)
    conn.commit()
    conn.close()
    return lambda: sqlite3.connect(path)


def _land_requests(factory, packets):
    """Write what a correct request job writes for ``packets``."""
    conn = factory()
    for packet, expects in packets:
        elems = json.loads(packet)["inv_pack"]
        for elem, x in zip(elems, expects):
            text = json.dumps(elem, separators=(",", ":"))
            if x.outcome == "in":
                conn.execute(
                    "INSERT INTO async_inv_in (inv, sid, syncid, tax_schema, api_type, "
                    "group_id, retry, state) VALUES (?, ?, ?, ?, ?, ?, 0, 0)",
                    (text, x.sid, x.syncid or "uuid", x.tax_schema, x.api_type, x.group_id))
            else:
                conn.execute(
                    "INSERT INTO invoice_retry (payload, job, error_message, retry_count, "
                    "state) VALUES (?, 'REQUEST', ?, 0, 'PENDING')", (text, x.error))
    conn.commit()
    conn.close()


def test_request_ledger_catches_lost_and_duplicate_rows(db):
    g = gen.RequestGen(11)
    packets = [g.packet(40) for _ in range(3)]
    _land_requests(db, packets)
    expects = [x for _, xs in packets for x in xs]
    assert ledger.check_request(ledger.request_rows(db), expects, {}) == []

    lost = next(x for x in expects if x.outcome == "in")
    conn = db()
    conn.execute("DELETE FROM async_inv_in WHERE sid = ?", (lost.sid,))
    conn.commit()
    bad = ledger.check_request(ledger.request_rows(db), expects, {})
    assert bad == [f"{lost.ref}: 0 rows"]

    dup = next(x for x in expects if x.outcome == "retry")
    conn.execute("INSERT INTO invoice_retry (payload, job, error_message, retry_count, state) "
                 "SELECT payload, job, error_message, retry_count, state FROM invoice_retry "
                 "WHERE payload LIKE ?", (f'%"ref":"{dup.ref}"%',))
    conn.commit()
    conn.close()
    bad = ledger.check_request(ledger.request_rows(db), expects, {})
    assert f"{dup.ref}: 2 rows" in bad and len(bad) == 2


def _respond(factory, expects, topics):
    """What a correct response job emits and writes for ``expects``."""
    packets, conn = [], factory()
    for x in expects:
        if not x.eligible:
            continue
        if x.error is None:
            packets.append((topics[x.api_type],
                            json.dumps({"inv_pack_res": [ledger._expected_item(x)]})))
            conn.execute("INSERT INTO async_inv_succ_log (sid, syncid) VALUES (?, ?)",
                         (x.sid, x.syncid))
        else:
            conn.execute("INSERT INTO invoice_retry (sid, syncid, job, error_message) "
                         "VALUES (?, ?, 'RESPONSE', ?)", (x.sid, x.syncid, x.error))
    conn.commit()
    conn.close()
    return packets


def test_response_ledger_catches_lost_and_duplicate_items(db):
    from flink_invoice_processor_spark.config import EngineConfig

    cfg = EngineConfig()
    g = gen.ResponseGen(5)
    expects = [e.expect for e in g.phase(40.0, 2.0, EPOCH, 2.0)]
    assert any(x.error for x in expects) and any(not x.eligible for x in expects)
    packets = _respond(db, expects, cfg.response_topics)

    def check(pk):
        return ledger.check_response(pk, db, expects, cfg.response_topics,
                                     cfg.response_batch_size)

    assert check(packets) == []
    assert len(check(packets[1:])) == 1                  # a lost item
    assert len(check(packets + packets[:1])) == 1        # a duplicated item
    topic, body = packets[0]
    wrong = next(t for t in cfg.response_topics.values() if t != topic)
    assert check([(wrong, body)] + packets[1:])          # misrouted


# -- percentiles -------------------------------------------------------------------

def test_percentile_refuses_without_ten_samples_beyond():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(range(999), 99)
    assert stats.percentile(range(1, 1001), 99) == 990
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(range(19), 50)
    assert stats.percentile(range(20), 50) == 9
    assert stats.tail_percentile(list(range(100)))[0] == 90
    assert stats.tail_percentile(list(range(15))) == (50, 7.0)
    assert stats.median([3.0]) == 3.0


# -- metric names --------------------------------------------------------------------

def _fake_spans():
    names = [n for _, n, _ in __import__("perfbench.tracing").tracing.LAYER_FUNCTIONS]
    spans = []
    for i, n in enumerate(names + ["response_cycle", "packet_sink"]):
        spans.append({"name": n, "layer": "streaming", "id": f"s{i}", "parent": None,
                      "unit": f"s{i}", "t0": 0.0, "t1": 1.0,
                      "attrs": {"spark_jobs": 1, "spark_tasks": 4}})
    spans.append({"name": "db.commit", "layer": "db", "id": "d", "parent": "s0",
                  "unit": "s0", "t0": 0.1, "t1": 0.2, "attrs": {"sql": "commit", "rows": 0}})
    return spans


def test_emitted_metric_names_are_declared():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    layer = {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
    assert len(e2e | layer) == len(SPEC["end_to_end"]) + len(SPEC["per_layer"])

    emitted = set(metrics.span_layers(_fake_spans()))
    emitted |= set(metrics.streaming_progress(
        [{"durationMs": {"addBatch": 5, "triggerExecution": 9}}]))
    emitted |= set(metrics.packet_counts([(0, "t", '{"inv_pack_res": [1]}')], 100))
    emitted |= {f"{g}_s" for g in suite.GROUPS}
    assert emitted <= layer, emitted - layer

    # the names the run module writes directly
    src = open(os.path.join(ROOT, "perfbench", "run.py")).read()
    src += "".join(open(os.path.join(ROOT, "perfbench", f)).read()
                   for f in ("pipeline.py", "suite.py", "metrics.py"))
    direct = set(re.findall(r'layer\["([^"]+)"\]', src))
    direct |= set(re.findall(r'e2e\["([^"]+)"\]', src))
    for call in re.findall(r"e2e\.update\((.*)\)", src):
        direct |= set(re.findall(r"(\w+)=", call))
    assert direct <= e2e | layer, direct - (e2e | layer)
    assert {"setup_s", "latency_p50_ms", "latency_tail_ms", "work_s"} <= e2e


def test_response_latency_counts_whole_poll_windows_only():
    from perfbench.pipeline import _whole_poll_windows

    sched = {k: float(k) for k in range(12)}
    keys = list(sched)
    # cycles start at 0, 5 and 10.5 within a phase that ends at 11; rows
    # of the partial window from 10.5 on are left out
    assert _whole_poll_windows(keys, sched, [0.0, 5.0, 10.5, 16.0], 11.0) == (
        list(range(11)), 2)
    # a phase shorter than two cycles keeps every row
    assert _whole_poll_windows(keys, sched, [0.0, 12.0], 11.0) == (keys, 0)
