"""Ledger checks: every generated input must end up exactly where the
engine's contract says, exactly once.  Each check returns a list of
mismatch descriptions; every entry counts as one failed operation."""

from __future__ import annotations

import json
import re
from collections import defaultdict

from flink_invoice_processor_spark.operators.response import SUCCESS_MESSAGE

from .gen import API_TYPES, Expect, RespExpect

_REF = re.compile(r'"ref":"(R\d+)"')


def ref_in(text: str | None) -> str | None:
    m = _REF.search(text or "")
    return m.group(1) if m else None


def _query(conn_factory, sql: str) -> list[tuple]:
    conn = conn_factory()
    try:
        return conn.execute(sql).fetchall()
    finally:
        conn.close()


def request_rows(conn_factory) -> dict[str, list[tuple]]:
    """Every row of the request-side tables, by the ref it carries:
    ``(table, *columns)`` tuples."""
    by_ref: dict[str, list[tuple]] = defaultdict(list)
    for row in _query(conn_factory, "SELECT inv, sid, syncid, tax_schema, api_type, "
                                    "group_id, retry FROM async_inv_in"):
        by_ref[ref_in(row[0])].append(("in", *row[1:]))
    for row in _query(conn_factory, "SELECT payload, sid, job, error_message, retry_count, "
                                    "state FROM invoice_retry"):
        by_ref[ref_in(row[0])].append(("retry", *row[1:]))
    for row in _query(conn_factory, "SELECT payload, error_message, attempt "
                                    "FROM invoice_error_log"):
        by_ref[ref_in(row[0])].append(("dead", *row[1:]))
    return by_ref


def check_request(by_ref: dict[str, list[tuple]], expects: list[Expect],
                  backlog: dict[str, dict]) -> list[str]:
    """Each generated element lands once in ``async_inv_in`` (valid) or
    ``invoice_retry`` with its error; each backlog row once in
    ``async_inv_in`` (revived), ``invoice_retry`` (untouched or re-armed)
    or ``invoice_error_log`` (past max retries)."""
    bad: list[str] = []
    for x in expects:
        rows = by_ref.get(x.ref, [])
        if len(rows) != 1:
            bad.append(f"{x.ref}: {len(rows)} rows")
            continue
        r = rows[0]
        if x.outcome == "in":
            ok = (r[0] == "in" and r[1] == x.sid and r[3] == x.tax_schema
                  and r[4] == x.api_type and r[5] == x.group_id and r[6] == 0
                  and (r[2] == x.syncid if x.syncid else bool(r[2])))
        else:
            ok = r[0] == "retry" and r[2] == "REQUEST" and r[3] == x.error and r[4] == 0
        if not ok:
            bad.append(f"{x.ref}: expected {x.outcome} {x.error or ''}, got {r}")
    for ref, b in backlog.items():
        rows = by_ref.get(ref, [])
        if len(rows) != 1:
            bad.append(f"{ref} (backlog): {len(rows)} rows")
            continue
        r, count = rows[0], b["count"]
        revived = (r[0] == "in" and b["valid"] and count <= 3 and r[1] == b["sid"]
                   and r[2] == b["syncid"] and r[3] == b["tax_schema"]
                   and r[4] == b["api_type"] and r[5] == count % 5 and r[6] == count)
        untouched = (r[0] == "retry" and r[4] == count and r[5] == "PENDING"
                     and r[3] == "Lock wait timeout exceeded")
        rearmed = (r[0] == "retry" and not b["valid"] and count <= 3
                   and r[4] == count + 1 and r[5] == "PENDING" and r[3] == "stax is null")
        dead = r[0] == "dead" and count > 3 and r[2] == count - 1
        if not (revived or untouched or rearmed or dead):
            bad.append(f"{ref} (backlog): unexpected {r}")
    known = {x.ref for x in expects} | set(backlog)
    bad.extend(f"{ref}: row not generated" for ref in by_ref if ref not in known)
    return bad


def _expected_item(x: RespExpect) -> dict:
    if x.kind == "in":
        ok = x.res_msg is None
        return {"sid": x.sid, "sync_sid": x.syncid,
                "message": SUCCESS_MESSAGE if ok else x.res_msg,
                "status": "success" if ok else "error", "code": None,
                "res_code": x.res_code, "res_resource": "fpt", "data": x.data}
    return {"sid": x.sid, "sync_sid": x.syncid, "message": None, "status": None,
            "code": None, "res_code": None, "res_resource": "gdt", "data": x.data}


def check_response(packets: list[tuple], conn_factory, expects: list[RespExpect],
                   topics: dict[int, str], batch_size: int) -> list[str]:
    """Each eligible valid row appears once as an item of a well-formed
    packet on its api_type's topic and once in ``async_inv_succ_log``, and
    leaves its queue table; each eligible invalid row appears in no packet
    and once in the RESPONSE retry queue with its error; ineligible rows
    appear nowhere.  ``packets`` holds ``(topic, packet_json)``."""
    bad: list[str] = []
    by_key = {(x.sid, x.syncid): x for x in expects}
    items: dict[tuple, list] = defaultdict(list)
    for topic, packet in packets:
        try:
            body = json.loads(packet)["inv_pack_res"]
        except (ValueError, KeyError, TypeError):
            bad.append(f"malformed packet on {topic}")
            continue
        if not 1 <= len(body) <= batch_size:
            bad.append(f"packet on {topic} has {len(body)} items")
        for item in body:
            key = (item.get("sid"), item.get("sync_sid"))
            items[key].append(item)
            x = by_key.get(key)
            if x is not None and topics.get(x.api_type) != topic:
                bad.append(f"{x.ref}: routed to {topic}")
    logged = defaultdict(int)
    for sid, syncid in _query(conn_factory, "SELECT sid, syncid FROM async_inv_succ_log"):
        logged[(sid, syncid)] += 1
    retried = defaultdict(list)
    for sid, syncid, err in _query(conn_factory, "SELECT sid, syncid, error_message "
                                                 "FROM invoice_retry WHERE job = 'RESPONSE'"):
        retried[(sid, syncid)].append(err)
    left_in = {r[0] for r in _query(conn_factory, "SELECT sid FROM async_inv_in")}
    left_out = {r[0] for r in _query(conn_factory, "SELECT sid FROM async_inv_out")}
    for key, x in by_key.items():
        got, n_log, errs = items.get(key, []), logged.get(key, 0), retried.get(key, [])
        left = x.sid in (left_in if x.kind == "in" else left_out)
        if not x.eligible:
            ok = not got and not n_log and not errs
        elif x.error is None:
            ok = (len(got) == 1 and got[0] == _expected_item(x) and n_log == 1
                  and not errs and not left)
        else:
            # a re-claimed row may have been re-validated once: an
            # unknown api_type is then reported before a null gdt_res
            allowed = {x.error}
            if x.api_type not in API_TYPES:
                allowed.add(f"Unknown api_type: {x.api_type}")
            ok = not got and not n_log and len(errs) == 1 and errs[0] in allowed
        if not ok:
            bad.append(f"{x.ref} ({x.kind}): items={len(got)} logged={n_log} "
                       f"retry={errs} left={left}")
    bad.extend(f"item for unknown row {k}" for k in items if k not in by_key)
    return bad
