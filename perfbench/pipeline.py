"""The two streaming workloads: open-loop request packets into
``run_invoice_request_job`` and open-loop result rows consumed by the
``response_cycle`` driver loop."""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

from flink_invoice_processor_spark.config import API_TYPES
from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory
from flink_invoice_processor_spark.streaming import jobs

from . import ledger, metrics
from .gen import EPOCH, RequestGen, ResponseGen
from .stats import median
from .suite import query_suite_layers

#: request traffic: packets per second (1-250 elements each, so about
#: 1,000 invoices/s), each burst that follows the steady phase, and the
#: warm-up micro-batch (a steady batch's worth)
REQUEST_RATE_PPS = 8.0
REQUEST_BURST_PACKETS = 40
REQUEST_WARMUP_PACKETS = 40
#: standing due REQUEST retry rows: more than the run's triggers can claim
#: at ``retry_fetch_size`` rows each, so every trigger claims a full batch
RETRY_BACKLOG = 2000
#: the burst is written this long before a trigger boundary, so it is
#: drained by the next trigger rather than waiting out a random phase
BURST_LEAD_S = 0.5

#: response traffic: result rows per second per queue table, re-delivered
#: pairs per second, and each burst (rows per table) after the steady phase
RESPONSE_RATE = 150.0
REDELIVERY_RATE = 1.0
RESPONSE_BURST = 2000
RESPONSE_WARMUP = 1000

#: bursts after the steady phase; ``work_s`` is the median drain time.  A
#: request burst costs one trigger interval, a response burst one cycle.
#: Request micro-batches of the same work vary by 10-20 % within a run, and
#: the first drain after the steady phase is often the slowest, so the
#: median needs several.  A traced run drains one: its per-layer figures
#: need no median.
REQUEST_BURSTS = 4
RESPONSE_BURSTS = 3
GEN_TICK_S = 0.1
WATCH_TICK_S = 0.05
DRAIN_TIMEOUT_S = 90.0


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class _Watcher(threading.Thread):
    """Records the first time each generated ref is seen committed in
    ``async_inv_in`` or ``invoice_retry`` (new rows only)."""

    def __init__(self, path: str):
        super().__init__(daemon=True)
        self.path, self.seen, self.stopped = path, {}, threading.Event()
        conn = SqliteConnFactory(path)()
        self.last_in = conn.execute("SELECT coalesce(max(id), 0) FROM async_inv_in").fetchone()[0]
        self.last_retry = conn.execute(
            "SELECT coalesce(max(id), 0) FROM invoice_retry").fetchone()[0]
        conn.close()

    def poll(self, conn) -> None:
        now = time.time()
        for table, col, attr in (("async_inv_in", "inv", "last_in"),
                                 ("invoice_retry", "payload", "last_retry")):
            rows = conn.execute(f"SELECT id, {col} FROM {table} WHERE id > ? ORDER BY id",
                                (getattr(self, attr),)).fetchall()
            for row_id, text in rows:
                ref = ledger.ref_in(text)
                if ref is not None:
                    self.seen.setdefault(ref, now)
            if rows:
                setattr(self, attr, rows[-1][0])

    def run(self) -> None:
        conn = SqliteConnFactory(self.path)()
        try:
            while not self.stopped.wait(WATCH_TICK_S):
                self.poll(conn)
            self.poll(conn)
        finally:
            conn.close()


def _boundary(interval: float, lead: float = 0.3) -> float:
    """Next multiple of the trigger interval at least ``lead`` s away:
    the processing-time trigger fires on these wall-clock multiples."""
    now = time.time() + lead
    return (int(now / interval) + 1) * interval


def _sleep_until(t: float) -> None:
    while (d := t - time.time()) > 0:
        time.sleep(min(d, 0.05))


class _PacketWriter:
    """Drops packet files into the stream source directory atomically."""

    def __init__(self, src: str, tmp: str):
        self.src, self.tmp, self.n = src, tmp, 0
        os.makedirs(src), os.makedirs(tmp)

    def write(self, packets: list[str]) -> None:
        self.n += 1
        name = f"p{self.n:06d}.json"
        with open(os.path.join(self.tmp, name), "w") as f:
            f.write("\n".join(packets) + "\n")
        os.rename(os.path.join(self.tmp, name), os.path.join(self.src, name))


def _bursts(run, n: int) -> int:
    return 1 if run.trace else n


def _request_inputs(seed: int, phases: list[float], bursts: int):
    gen = RequestGen(seed)
    backlog_rows, backlog_x = gen.backlog(RETRY_BACKLOG, EPOCH)
    warm = [gen.packet() for _ in range(REQUEST_WARMUP_PACKETS)]
    steady = [gen.schedule(REQUEST_RATE_PPS, run_s) for run_s in phases]
    burst = [[gen.packet(250) for _ in range(REQUEST_BURST_PACKETS)] for _ in range(bursts)]
    return backlog_rows, backlog_x, warm, steady, burst


def _create_db(run, name: str) -> str:
    path = os.path.join(run.work, f"{name}.db")
    conn = SqliteConnFactory(path)()
    for ddl in run.ddl:
        conn.execute(ddl)
    conn.commit()
    conn.close()
    return path


def _insert_backlog(path: str, rows: list[tuple]) -> None:
    # due times are relative to the run, generated ones to a fixed epoch
    shift = _utcnow() - EPOCH
    conn = SqliteConnFactory(path)()
    conn.executemany(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, error_code, "
        "retry_count, state, next_retry_time, created_at, updated_at) "
        "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
        [r[:8] + tuple(t + shift for t in r[8:]) for r in rows])
    conn.commit()
    conn.close()


def _run_request_pipeline(run, path, inputs, phase_names, label):
    """Warm up, start the streaming job, play the steady phases and the
    bursts; returns timing samples and the progress of the micro-batches
    from the traced phase on."""
    cfg, spark = run.cfg, run.spark
    _, backlog_x, warm, steady, bursts = inputs
    factory = run.conn_factory(path)
    writer = _PacketWriter(os.path.join(run.work, f"{label}-src"),
                           os.path.join(run.work, f"{label}-tmp"))
    # the warm-up packets are the query's first micro-batch, which runs
    # as soon as the query starts
    t = time.time()
    writer.write([p for p, _ in warm])
    stream = spark.readStream.format("text").schema("value string").load(writer.src)
    query = jobs.run_invoice_request_job(
        spark, cfg, factory, os.path.join(run.work, f"{label}-ckpt"), source=stream)
    watcher = _Watcher(path)
    watcher.start()
    interval = cfg.mysql_batch_interval_ms / 1000.0
    send: dict[str, float] = {}
    lateness: list[float] = []
    phases = {}
    traced_from = float("inf")
    try:
        run.phase("warm-up")
        _wait_idle(watcher, [x.ref for _, xs in warm for x in xs], query)
        warmup_s = time.time() - t
        for name, schedule in zip(phase_names, steady):
            run.phase(name)
            start = _boundary(interval)
            if name == "traced":
                traced_from = start
            for off, packet, xs in schedule:
                due = start + off
                _sleep_until(due)
                writer.write([packet])
                lag = time.time() - due
                for x in xs:
                    send[x.ref] = due
                    lateness.append(lag)
            refs = [x.ref for _, _, xs in schedule for x in xs]
            _wait_idle(watcher, refs, query)
            phases[name] = [watcher.seen[r] - send[r] for r in refs if r in watcher.seen]
        run.phase("burst")
        drains = []
        for burst in bursts:
            due = _boundary(interval, lead=BURST_LEAD_S + 0.2) - BURST_LEAD_S
            _sleep_until(due)
            writer.write([p for p, _ in burst])
            burst_refs = [x.ref for _, xs in burst for x in xs]
            _wait_idle(watcher, burst_refs, query)
            seen = [watcher.seen[r] for r in burst_refs if r in watcher.seen]
            if len(seen) == len(burst_refs):
                drains.append(max(seen) - due)
    finally:
        run.phase(None)
        query.stop()
        run.mark(f"{label} query {query.id} stopped")
        watcher.stopped.set()
        watcher.join(timeout=30)
    if query.exception() is not None:
        run.fail(f"{label} streaming query: {query.exception()}")
    progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    run.attempted += len(progress)
    progress = [p for p in progress if datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp() >= traced_from - 0.5]

    expects = [x for _, xs in warm for x in xs]
    expects += [x for sched in steady for _, _, xs in sched for x in xs]
    expects += [x for burst in bursts for _, xs in burst for x in xs]
    run.check(ledger.check_request(ledger.request_rows(SqliteConnFactory(path)), expects,
                                   backlog_x),
              len(expects) + len(backlog_x))
    run.info["work_s.samples"] = [round(d, 2) for d in drains]
    burst_n = sum(len(xs) for _, xs in bursts[0])
    drain_s = median(drains) if len(drains) == len(bursts) else None
    return {"warmup_s": warmup_s, "phases": phases, "drain_s": drain_s,
            "rate": burst_n / drain_s if drain_s else None, "lateness": lateness,
            "progress": progress}


def _wait_idle(watcher: _Watcher, refs: list[str], query) -> None:
    """Wait until every ref has been seen and the micro-batch that wrote
    them has finished, so no sink is cut off mid-batch."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and query.isActive:
        if all(r in watcher.seen for r in refs) and not query.status["isTriggerActive"]:
            return
        time.sleep(WATCH_TICK_S)


def request_stream(run) -> None:
    phase_names = ["untraced", "traced"] if run.trace else ["steady"]
    inputs = {}

    def prepare(i):
        inputs["data"] = _request_inputs(run.seed, [run.seconds] * len(phase_names),
                                         _bursts(run, REQUEST_BURSTS))
        inputs["path"] = _create_db(run, f"request{i}")
        _insert_backlog(inputs["path"], inputs["data"][0])

    run.setup_rounds(prepare)
    res = _run_request_pipeline(run, inputs["path"], inputs["data"], phase_names, "req")
    run.add_warmup(res["warmup_s"])
    lat = res["phases"][phase_names[0]]
    run.latency(lat, res["drain_s"], "invoices")
    run.info["request.invoices_per_s"] = res["rate"]
    if run.trace:
        run.trace_overhead(res["phases"]["untraced"], res["phases"]["traced"])
        run.layer.update(metrics.streaming_progress(res["progress"]))
        run.lateness(res["lateness"])
        run.layer["scaling.request_burst_x"] = _single_core_ratio(run, res)


def _single_core_ratio(run, res) -> float:
    """Burst throughput at ``local[nproc]`` over the same burst at
    ``local[1]`` (both traced, fresh DB and stream)."""
    run.restart_session(1)
    data = _request_inputs(run.seed, [], 1)
    path = _create_db(run, "request-1core")
    _insert_backlog(path, data[0])
    one = _run_request_pipeline(run, path, data, [], "req1")
    run.restart_session(run.cores)
    return res["rate"] / one["rate"] if res["rate"] and one["rate"] else 0.0


# ---------------------------------------------------------------------------
# response_stream
# ---------------------------------------------------------------------------

_FLIP_SQL = ("UPDATE async_inv_in SET res_type = ?, state = 4, fpt_einvoice_res_code = ?, "
             "fpt_einvoice_res_msg = ?, fpt_einvoice_res_json = ?, updated_date = ? "
             "WHERE id = ?")
_OUT_SQL = ("INSERT INTO async_inv_out (tax_schema, gdt_res, sid, syncid, retry, state, "
            "group_id, res_type, api_type, created_date) VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
_REDELIVER_SQL = ("INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
                  "error_code, retry_count, state, next_retry_time, created_at, updated_at) "
                  "VALUES (?, ?, 'RESPONSE', ?, 'Connection reset', 'IOException', 0, "
                  "'PENDING', ?, ?, ?)")
_IN_SQL = ("INSERT INTO async_inv_in (id, tax_schema, inv, api_type, res_type, "
           "fpt_einvoice_res_code, fpt_einvoice_res_msg, fpt_einvoice_res_json, retry, state, "
           "group_id, created_date, updated_date, callback_res_code, callback_res_msg, "
           "callback_res_json, sid, syncid, process_kafka) "
           "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
_PENDING_SQL = (
    "SELECT (SELECT count(*) FROM async_inv_in WHERE res_type = 2 AND state = 4 "
    "AND api_type IN {t}) + (SELECT count(*) FROM async_inv_out WHERE res_type = 2 "
    "AND state = 0 AND gdt_res IS NOT NULL AND api_type IN {t})".format(t=tuple(API_TYPES)))


def _apply(conn, events) -> None:
    """Write a group of generator events in one transaction."""
    now = _utcnow()
    for e in events:
        if e.table == "in":
            conn.execute(_FLIP_SQL, (*e.params[:4], now, e.params[4]))
        elif e.table == "out":
            conn.execute(_OUT_SQL, e.params)
        else:
            for _ in range(2):
                conn.execute(_REDELIVER_SQL, (*e.params, now, now, now))
    conn.commit()


class _ResultGen(threading.Thread):
    """Plays the invoice service and the tax authority: applies each
    event at its scheduled time, whatever the engine is doing."""

    def __init__(self, path: str, events, start: float):
        super().__init__(daemon=True)
        self.path, self.events, self.start_t = path, events, start
        self.lateness: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        conn = SqliteConnFactory(self.path)()
        try:
            i, n = 0, len(self.events)
            while i < n:
                now = time.time()
                j = i
                while j < n and self.start_t + self.events[j].t <= now:
                    j += 1
                if j > i:
                    _apply(conn, self.events[i:j])
                    done = time.time()
                    self.lateness.extend(done - (self.start_t + e.t) for e in self.events[i:j])
                    i = j
                time.sleep(GEN_TICK_S)
        except Exception as exc:  # reported by the response loop
            self.error = exc
        finally:
            conn.close()


class _PacketSink:
    """Stands in for Kafka: keeps every packet with the time it arrived."""

    def __init__(self):
        self.received: list[tuple[float, str, str]] = []

    def __call__(self, packets_df) -> None:
        rows = packets_df.collect()
        now = time.time()
        self.received.extend((now, r.topic, r.packet_json) for r in rows)

    def first_seen(self) -> dict[tuple, float]:
        import json

        out: dict[tuple, float] = {}
        for t, _, packet in self.received:
            for item in json.loads(packet).get("inv_pack_res", []):
                out.setdefault((item.get("sid"), item.get("sync_sid")), t)
        return out


def _whole_poll_windows(keys, sched, polls, end):
    """The rows made eligible between the first and the last cycle start
    of the steady phase.  A row of a partial last window waits only for
    the rest of that window, so counting it would make the sample depend
    on where the phase ends against the cycles; every row of a whole
    window waits a full poll interval's share.  A phase shorter than two
    cycles keeps all its rows.  Returns the rows and the window count."""
    starts = [t for t in polls if t <= end]
    if len(starts) < 2:
        return keys, 0
    return [k for k in keys if starts[0] <= sched[k] < starts[-1]], len(starts) - 1


def _response_inputs(seed: int, phases: list[float], bursts: int):
    gen = ResponseGen(seed)
    warm = gen.phase(RESPONSE_WARMUP, 0, EPOCH)
    steady = [gen.phase(RESPONSE_RATE, s, EPOCH, REDELIVERY_RATE) for s in phases]
    burst = [gen.phase(RESPONSE_BURST, 0, EPOCH) for _ in range(bursts)]
    return gen.inv_in_rows, warm, steady, burst


def response_stream(run) -> None:
    cfg = run.cfg
    phase_names = ["untraced", "traced"] if run.trace else ["steady"]
    inputs = {}

    def prepare(i):
        inputs["data"] = _response_inputs(run.seed, [run.seconds] * len(phase_names),
                                          _bursts(run, RESPONSE_BURSTS))
        path = inputs["path"] = _create_db(run, f"response{i}")
        conn = SqliteConnFactory(path)()
        conn.executemany(_IN_SQL, inputs["data"][0])
        conn.commit()
        conn.close()

    run.setup_rounds(prepare)
    _, warm, steady, bursts = inputs["data"]
    path = inputs["path"]
    factory = run.conn_factory(path)
    sink = _PacketSink()
    sink_fn = run.wrap_sink(sink)
    marks = [0, 0]
    sleep_s = cfg.mysql_polling_interval_ms / 1000.0
    conn = SqliteConnFactory(path)()

    def pending() -> int:
        return conn.execute(_PENDING_SQL).fetchone()[0]

    cycle_s = run.info.setdefault("response.cycle_s", [])

    def cycle() -> None:
        def body():
            marks[:] = jobs.response_cycle(run.spark, cfg, factory, sink_fn, *marks)
        run.attempted += 1
        t0 = time.time()
        with run.span("response_cycle", "streaming", unit=True):
            run.guard("response cycle", body)
        cycle_s.append(round(time.time() - t0, 2))

    def drain(deadline_s: float) -> float | None:
        """Cycles, sleeping the poll interval between them, until no
        processable row is left; returns the seconds it took."""
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            cycle()
            if pending() == 0:
                return time.time() - t0
            time.sleep(sleep_s)
        return None

    t = time.time()
    run.phase("warm-up")
    _apply(conn, warm)
    drain(DRAIN_TIMEOUT_S)
    run.add_warmup(time.time() - t)

    sched: dict[tuple, float] = {}
    lateness: list[float] = []
    phase_keys = {}
    try:
        for name, events in zip(phase_names, steady):
            run.phase(name)
            gen = _ResultGen(path, events, time.time())
            for e in events:
                sched[(e.expect.sid, e.expect.syncid)] = gen.start_t + e.t
            gen.start()
            polls = []
            while gen.is_alive():
                polls.append(time.time())
                cycle()
                time.sleep(sleep_s)
            gen.join()
            if gen.error is not None:
                run.fail(f"result generator: {gen.error!r}")
            drain(DRAIN_TIMEOUT_S)
            lateness += gen.lateness
            # queue-table rows only: a re-delivery waits for its retry claim
            keys = [(e.expect.sid, e.expect.syncid) for e in events
                    if e.table != "redelivery" and e.expect.eligible
                    and e.expect.error is None]
            phase_keys[name], windows = _whole_poll_windows(
                keys, sched, polls, gen.start_t + run.seconds)
            run.info[f"latency.poll_windows.{name}"] = windows
        run.phase("burst")
        drains = []
        for burst in bursts:
            _apply(conn, burst)
            drains.append(drain(DRAIN_TIMEOUT_S))
            time.sleep(sleep_s)
    finally:
        run.phase(None)
    seen = sink.first_seen()

    def lat(keys):
        return [seen[k] - sched[k] for k in keys if k in seen]

    expects = [e.expect for e in warm] + [e.expect for ev in steady for e in ev]
    expects += [e.expect for burst in bursts for e in burst]
    run.check(ledger.check_response([(topic, p) for _, topic, p in sink.received],
                                    SqliteConnFactory(path), expects, cfg.response_topics,
                                    cfg.response_batch_size),
              len(expects))
    conn.close()
    drain_s = median(drains) if None not in drains else None
    run.info["work_s.samples"] = [round(d, 2) for d in drains if d is not None]
    run.latency(lat(phase_keys[phase_names[0]]), drain_s, "rows")
    run.info["response.rows_per_s"] = 2 * RESPONSE_BURST / drain_s if drain_s else None
    if run.trace:
        run.trace_overhead(lat(phase_keys["untraced"]), lat(phase_keys["traced"]))
        run.lateness(lateness)
        run.layer.update(metrics.packet_counts(sink.received, cfg.response_batch_size))
        query_suite_layers(run)

