"""Seeded input generators.

Every input of a run comes from one ``numpy`` generator seeded with the
workload seed, so the same seed gives byte-identical inputs.  The shapes
follow FIXTURES.md (request packet variants V1-V3 and E1-E4, the queue
table columns, ~2% null ``gdt_res``) and the reference's settings in
BASELINE.md; the reference publishes no production traces.

Each generated invoice or result row carries a unique ``ref`` so the
ledger can find it again in whatever table the engine put it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

API_TYPES = (10, 11, 12, 13, 14)
#: accepted by the request job, rejected by the response job
API_OUT_OF_DOMAIN = 99

#: FIXTURES §1 element variants; V1-V3 carry the bulk, E1-E4 a few % each
REQUEST_VARIANTS = ("V1", "V2", "V3", "E4", "E1", "E2", "E3")
REQUEST_WEIGHTS = (0.30, 0.27, 0.28, 0.04, 0.03, 0.05, 0.03)
REQUEST_ERRORS = {"E1": "stax is null", "E2": "sid is null", "E3": "api_type is null"}
#: share of elements whose api_type is the out-of-domain 99
OUT_OF_DOMAIN_SHARE = 0.02
MAX_PACKET_ELEMENTS = 250

# response-side shares (FIXTURES §2-3)
NULL_GDT_SHARE = 0.02
ERROR_MSG_SHARE = 0.05
INELIGIBLE_SHARE = 0.03
#: ids of re-delivered records lie above every queue-table id, so the
#: engine's delete-by-id of a re-delivery can never hit a live row
REDELIVERY_ID_BASE = 1_000_000_000

EPOCH = datetime(2026, 1, 1)


def ref_of(i: int) -> str:
    return f"R{i:08d}"


def _staxes(rng, n: int) -> list[str]:
    """``n`` tax codes of 10-14 digits."""
    lengths = rng.integers(10, 15, n)
    return [str(v) for v in rng.integers(10 ** (lengths - 1), 10 ** lengths)]


def _stax(rng) -> str:
    return _staxes(rng, 1)[0]


def _item_lists(rng, n: int) -> list[list[dict]]:
    """``n`` invoice bodies of 1-4 line items each."""
    counts = rng.integers(1, 5, n)
    total = int(counts.sum())
    skus, qtys = rng.integers(0, 20000, total), rng.integers(1, 20, total)
    prices = np.round(rng.uniform(1, 500, total), 2)
    out, k = [], 0
    for c in counts:
        out.append([{"sku": f"P{skus[j]}", "qty": int(qtys[j]), "price": float(prices[j])}
                    for j in range(k, k + c)])
        k += c
    return out


def _items(rng) -> list[dict]:
    return _item_lists(rng, 1)[0]


@dataclass
class Expect:
    """What the request job must do with one generated element."""

    ref: str
    outcome: str            # "in" (async_inv_in) or "retry" (invoice_retry)
    sid: str | None = None
    syncid: str | None = None  # None: engine generates a UUID
    tax_schema: str | None = None
    api_type: int | None = None
    group_id: int | None = None
    error: str | None = None


class RequestGen:
    """Request packets and the standing REQUEST retry backlog."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self.n = 0

    def packet(self, n_elems: int | None = None) -> tuple[str, list[Expect]]:
        rng = self.rng
        if n_elems is None:
            n_elems = int(rng.integers(1, MAX_PACKET_ELEMENTS + 1))
        variants = rng.choice(len(REQUEST_VARIANTS), n_elems, p=REQUEST_WEIGHTS)
        apis = np.where(rng.random(n_elems) < OUT_OF_DOMAIN_SHARE, API_OUT_OF_DOMAIN,
                        rng.choice(API_TYPES, n_elems))
        staxes, other_staxes = _staxes(rng, n_elems), _staxes(rng, n_elems)
        bodies, coin = _item_lists(rng, n_elems), rng.random(n_elems)
        elems, expects = [], []
        for pos in range(n_elems):
            self.n += 1
            e, x = self._element(REQUEST_VARIANTS[variants[pos]], pos, int(apis[pos]),
                                 staxes[pos], other_staxes[pos], bodies[pos], coin[pos])
            elems.append(e)
            expects.append(x)
        return json.dumps({"inv_pack": elems}, separators=(",", ":")), expects

    def _element(self, variant, pos, api, stax, other_stax, items, coin):
        ref, sid, syncid = ref_of(self.n), f"S{self.n:08d}", f"Y{self.n:08d}"
        e: dict = {"ref": ref, "api_type": api}
        x = Expect(ref, "in", sid, syncid, stax, api, pos % 5)
        if variant == "V1":
            e.update(sid=sid, syncid=syncid, stax=stax, items=items)
        elif variant == "V2":
            e["inv"] = {"stax": stax, "sid": sid, "syncid": syncid, "items": items}
        elif variant == "V3":
            # both levels, different values: top-level sid/syncid win,
            # inv.stax wins over top-level stax
            e.update(sid=sid, syncid=syncid, stax=other_stax)
            e["inv"] = {"stax": stax, "sid": "X" + sid, "syncid": "X" + syncid,
                        "items": items}
        elif variant == "E4":
            e.update(sid=sid, stax=stax, items=items)
            x.syncid = None
        else:
            x = Expect(ref, "retry", error=REQUEST_ERRORS[variant])
            if variant == "E1":
                e.update(sid=sid, syncid=syncid, inv={"items": items})
            elif variant == "E2":
                e.update(syncid=syncid, stax=stax, items=items)
                if coin < 0.5:
                    e["sid"] = ""
            else:
                del e["api_type"]
                e.update(sid=sid, syncid=syncid, stax=stax, items=items)
        return e, x

    def schedule(self, rate_pps: float, seconds: float) -> list[tuple[float, str, list[Expect]]]:
        """Packets at a fixed offered rate: ``(offset_s, packet, expects)``
        with evenly spaced send offsets over ``(0, seconds)``."""
        n = int(round(rate_pps * seconds))
        return [((i + 0.5) / rate_pps, *self.packet()) for i in range(n)]

    def backlog(self, n: int, now: datetime) -> tuple[list[tuple], dict[str, dict]]:
        """Due REQUEST retry rows (``invoice_retry`` insert tuples) and the
        expectation per ref.  Mix: mostly payloads that now parse, some
        that fail again ("stax is null"), some already past max retries."""
        rows, expects = [], {}
        for k in range(n):
            self.n += 1
            ref, sid, syncid = ref_of(self.n), f"S{self.n:08d}", f"Y{self.n:08d}"
            u = self.rng.random()
            count = 4 if u < 0.10 else int(self.rng.integers(0, 4))
            valid = u >= 0.20
            elem = {"ref": ref, "api_type": int(self.rng.choice(API_TYPES)), "sid": sid,
                    "syncid": syncid}
            stax = _stax(self.rng)
            elem["inv"] = {"stax": stax, "items": _items(self.rng)} if valid else {
                "items": _items(self.rng)}
            due = now - timedelta(seconds=600 - k * 0.01)
            rows.append((sid, syncid, "REQUEST", json.dumps(elem, separators=(",", ":")),
                         "Lock wait timeout exceeded", "SQLException", count, "PENDING",
                         due, due, due))
            expects[ref] = {"sid": sid, "syncid": syncid, "tax_schema": stax,
                            "api_type": elem["api_type"], "count": count, "valid": valid}
        return rows, expects


@dataclass
class RespExpect:
    """What the response job must do with one generated result row."""

    ref: str
    kind: str                 # "in", "out" or "redelivery"
    sid: str
    syncid: str
    api_type: int
    eligible: bool = True
    error: str | None = None  # expected retry-queue error; None: an item
    res_code: str | None = None
    res_msg: str | None = None
    data: dict | None = None


@dataclass
class RespEvent:
    """One scheduled generator action (offset seconds from phase start)."""

    t: float
    table: str          # "in" (flip an async_inv_in row) / "out" / "redelivery"
    params: tuple
    expect: RespExpect


@dataclass
class ResponseGen:
    """Result traffic: the external invoice service answering
    ``async_inv_in`` rows and the tax authority inserting
    ``async_inv_out`` rows; plus at-least-once re-deliveries."""

    seed: int
    rng: np.random.Generator = field(init=False)
    n: int = 0
    next_in_id: int = 1
    inv_in_rows: list = field(default_factory=list)

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 2])

    def _api(self) -> int:
        if self.rng.random() < OUT_OF_DOMAIN_SHARE:
            return API_OUT_OF_DOMAIN
        return int(self.rng.choice(API_TYPES))

    def _ids(self) -> tuple[str, str, str]:
        self.n += 1
        return ref_of(self.n), f"S{self.n:08d}", f"Y{self.n:08d}"

    def _in_event(self, t: float, now: datetime) -> RespEvent:
        """Pre-insert one request-side row (state 0) and schedule its
        result write."""
        ref, sid, syncid = self._ids()
        api, stax = self._api(), _stax(self.rng)
        row_id = self.next_in_id
        self.next_in_id += 1
        inv = json.dumps({"ref": ref, "api_type": api, "sid": sid, "syncid": syncid,
                          "stax": stax}, separators=(",", ":"))
        self.inv_in_rows.append((row_id, stax, inv, api, None, None, None, None, 0, 0,
                                 row_id % 5, now, None, None, None, None, sid, syncid,
                                 None))
        eligible = self.rng.random() >= INELIGIBLE_SHARE
        msg = "Hóa đơn đã tồn tại" if self.rng.random() < ERROR_MSG_SHARE else None
        code = "ERR-02" if msg else "200"
        data = {"ref": ref, "inv_no": int(self.rng.integers(1, 10**7)), "ok": msg is None}
        # an ineligible result keeps state 4 but res_type 1 (not yet final)
        res_type = 2 if eligible else 1
        x = RespExpect(ref, "in", sid, syncid, api, eligible, res_code=code, res_msg=msg,
                       data=data)
        if api not in API_TYPES:
            x.error = f"Unknown api_type: {api}"
        return RespEvent(t, "in", (res_type, code, msg, json.dumps(data), row_id), x)

    def _out_event(self, t: float, now: datetime) -> RespEvent:
        ref, sid, syncid = self._ids()
        api = self._api()
        eligible = self.rng.random() >= INELIGIBLE_SHARE
        null_gdt = self.rng.random() < NULL_GDT_SHARE
        data = {"ref": ref, "mccqthue": f"M{int(self.rng.integers(1, 10**9))}",
                "ttxly": int(self.rng.integers(1, 9))}
        gdt = None if null_gdt else json.dumps(data)
        x = RespExpect(ref, "out", sid, syncid, api, eligible, data=None if null_gdt else data)
        if null_gdt:
            x.error = "gdt_res is null"
        elif api not in API_TYPES:
            x.error = f"Unknown api_type: {api}"
        state = 0 if eligible else 1
        return RespEvent(t, "out", (_stax(self.rng), gdt, sid, syncid, 0, state,
                                    self.n % 5, 2, api, now), x)

    def _redelivery_event(self, t: float) -> RespEvent:
        """A tax-authority result whose retry row was enqueued twice (an
        at-least-once replay): both copies are due at once, so the
        engine's dedup must collapse them into one item."""
        ref, sid, syncid = self._ids()
        api = int(self.rng.choice(API_TYPES))
        data = {"ref": ref, "mccqthue": f"M{int(self.rng.integers(1, 10**9))}",
                "ttxly": int(self.rng.integers(1, 9))}
        payload = json.dumps({
            "id": REDELIVERY_ID_BASE + self.n, "tax_schema": _stax(self.rng),
            "gdt_res": json.dumps(data), "sid": sid, "syncid": syncid, "retry": 0,
            "state": 0, "group_id": self.n % 5, "res_type": 2, "api_type": api,
            "created_date": None, "updated_date": None, "process_kafka": None,
        }, separators=(",", ":"))
        x = RespExpect(ref, "redelivery", sid, syncid, api, data=data)
        return RespEvent(t, "redelivery", (sid, syncid, payload), x)

    def phase(self, rate_per_table: float, seconds: float, now: datetime,
              redelivery_rate: float = 0.0) -> list[RespEvent]:
        """Events at a fixed rate per queue table over ``[0, seconds)``;
        a zero ``seconds`` makes a burst of ``rate_per_table`` rows per
        table, all at offset 0."""
        n = int(round(rate_per_table * seconds)) if seconds else int(rate_per_table)
        events = []
        for i in range(n):
            t = i / rate_per_table if seconds else 0.0
            events.append(self._in_event(t, now))
            events.append(self._out_event(t, now))
        for i in range(int(round(redelivery_rate * seconds))):
            events.append(self._redelivery_event(i / redelivery_rate))
        events.sort(key=lambda e: e.t)
        return events


# ---------------------------------------------------------------------------
# Relational tables for the query suite (TESTDATA.md shapes, scaled by sf)
# ---------------------------------------------------------------------------

_WORDS = ("a the data spark stream batch row column table key value hash join "
          "sort merge group agg filter scan query order part line customer "
          "window vector big small fast slow").split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
_PART_WORDS = ("new gizmo large hot small bolt anvil blue old plate cold gear ring "
               "widget red rod").split()
_PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _docs(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if texts and u < 0.002:          # exact duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and u < 0.06:         # near duplicate: a few words changed
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def make_tables(seed: int, sf: float) -> dict:
    """The TESTDATA.md star schema plus events/documents/embeddings, as
    ``pyarrow`` tables keyed by name."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(0, 10_000, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(0, 10_000, n_supp)})
    pw = rng.integers(0, len(_PART_WORDS), (n_part, 2))
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in pw],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(("O", "F", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("O", "F"), n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _docs(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_doc, _LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
