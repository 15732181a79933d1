"""Traced-run tooling: span recorder, Spark job-group counts, a timing DB
connection factory, layer wrappers, the span file and self times.

Spans are recorded only around calls from the benchmark's own files into
the package's layers, never inside the package.  Each span sets a Spark
job group, so ``statusTracker()`` can attribute jobs and tasks to it, and
the DB calls made under it, on the driver or in executors, are logged by
:class:`TimingConnFactory` with the same group id.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

#: the span open on each driver thread; read by TimingConnFactory when it
#: runs on the driver, where there is no TaskContext to carry the group
_current = threading.local()


def _span_stack() -> list:
    if not hasattr(_current, "stack"):
        _current.stack = []
    return _current.stack


class SpanRecorder:
    """In-memory spans: ``name, layer, id, parent, unit, t0, t1, attrs``.

    ``unit`` is the id of the enclosing micro-batch, cycle or query span,
    so all spans of one unit share it.  A ``root`` span (workload, phase)
    also parents spans opened on other threads, such as the streaming
    job's micro-batches.  The recorder is off until :meth:`enable`; a
    disabled recorder records nothing and touches no Spark state, so
    wrappers can stay installed across an untraced phase.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = False
        self.roots: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def enable(self, on: bool = True) -> None:
        self.enabled = on

    @contextmanager
    def span(self, name: str, layer: str, unit: bool = False, root: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = _span_stack()
        parent = stack[-1] if stack else self.roots[-1] if self.roots else None
        with self._lock:
            sid = f"s{next(self._ids)}"
        rec = {"name": name, "layer": layer, "id": sid,
               "parent": parent["id"] if parent else None,
               "unit": sid if unit or parent is None else parent["unit"],
               "t0": time.time(), "t1": None, "attrs": dict(attrs), "groups": [sid]}
        prev = {k: self.sc.getLocalProperty(k) for k in
                ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")}
        self.sc.setJobGroup(sid, name)
        stack.append(rec)
        if root:
            self.roots.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            if root:
                self.roots.remove(rec)
            # the session may have been restarted under a long span
            if self.sc._jsc is not None:
                for k, v in prev.items():
                    self.sc.setLocalProperty(k, v)
            rec["t1"] = time.time()
            if parent is not None:
                parent["groups"].extend(rec["groups"])
            if unit:
                rec["attrs"].update(self._spark_counts(rec["groups"]))
            with self._lock:
                self.spans.append(rec)

    def _spark_counts(self, groups: list[str]) -> dict:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
        return {"spark_jobs": jobs, "spark_tasks": tasks}

    def add_db_ops(self, ops: list[dict]) -> None:
        """Attach logged DB calls as child spans of the span whose group
        they ran under."""
        known = {s["id"]: s for s in self.spans}
        for op in ops:
            parent = known.get(op["group"])
            if parent is None:
                continue
            self.spans.append({
                "name": f"db.{op['op']}", "layer": "db", "id": f"d{next(self._ids)}",
                "parent": parent["id"], "unit": parent["unit"], "t0": op["t0"],
                "t1": op["t1"], "attrs": {"sql": op["kind"], "rows": op["rows"],
                                          "pid": op["pid"]}, "groups": []})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                out = {k: v for k, v in s.items() if k != "groups"}
                f.write(json.dumps(out, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the
    part of it that its children's intervals cover."""
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(s["t1"] - s["t0"] - covered, 0.0)
    return out


# ---------------------------------------------------------------------------
# DB call timing
# ---------------------------------------------------------------------------

def _sql_kind(sql: str) -> str:
    words = sql.split()
    verb = words[0].upper()
    table = words[2] if verb in ("INSERT", "DELETE") else words[1] if verb == "UPDATE" else (
        words[words.index("FROM") + 1] if "FROM" in words else "?")
    return f"{verb.lower()}:{table}"


class _TimedCursor:
    def __init__(self, cur, log):
        self._cur, self._log = cur, log

    def execute(self, sql, params=()):
        t0 = time.time()
        self._cur.execute(sql, params)
        self._log("execute", _sql_kind(sql), max(self._cur.rowcount, 0), t0)
        return self

    def executemany(self, sql, seq):
        seq = list(seq)
        t0 = time.time()
        self._cur.executemany(sql, seq)
        self._log("executemany", _sql_kind(sql), len(seq), t0)
        return self

    def fetchall(self):
        t0 = time.time()
        rows = self._cur.fetchall()
        self._log("fetchall", "fetch", len(rows), t0)
        return rows

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _TimedConnection:
    def __init__(self, conn, log):
        self._conn, self._log = conn, log

    def cursor(self):
        return _TimedCursor(self._conn.cursor(), self._log)

    def commit(self):
        t0 = time.time()
        self._conn.commit()
        self._log("commit", "commit", 0, t0)

    def rollback(self):
        t0 = time.time()
        self._conn.rollback()
        self._log("rollback", "rollback", 0, t0)

    def __getattr__(self, name):
        return getattr(self._conn, name)


class TimingConnFactory:
    """SQLite connection factory that logs every DBAPI call, commit and
    rollback with the Spark job group it ran under, one JSON line per call
    in ``<log_dir>/db-<pid>.jsonl``.  Picklable: executors open their own
    connections through it, exactly like ``SqliteConnFactory``."""

    def __init__(self, path: str, log_dir: str, timeout: float = 30.0):
        self.path, self.log_dir, self.timeout = path, log_dir, timeout

    def _group(self) -> str | None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None:
            return tc.getLocalProperty("spark.jobGroup.id")
        stack = _span_stack()
        return stack[-1]["id"] if stack else None

    def __call__(self):
        import sqlite3

        group = self._group()
        pid = os.getpid()
        path = os.path.join(self.log_dir, f"db-{pid}.jsonl")

        def log(op, kind, rows, t0):
            rec = {"op": op, "kind": kind, "rows": rows, "t0": t0, "t1": time.time(),
                   "group": group, "pid": pid}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")

        return _TimedConnection(sqlite3.connect(self.path, timeout=self.timeout), log)


def read_db_ops(log_dir: str) -> list[dict]:
    ops = []
    for p in glob.glob(os.path.join(log_dir, "db-*.jsonl")):
        with open(p) as f:
            ops.extend(json.loads(line) for line in f if line.strip())
    return ops


# ---------------------------------------------------------------------------
# Layer wrappers (installed for the traced run only)
# ---------------------------------------------------------------------------

#: (module, attribute, span layer) for every layer function the jobs call;
#: module is where ``streaming.jobs`` looks the name up at call time
LAYER_FUNCTIONS = [
    ("streaming.jobs", "request_micro_batch", "streaming"),
    ("streaming.jobs", "parse_request_packets", "operators"),
    ("streaming.jobs", "transform_retry_records", "operators"),
    ("operators.response", "make_response_envelope", "operators"),
    ("streaming.jobs", "process_response_batch", "operators"),
    ("streaming.jobs", "transform_response_retry_records", "operators"),
    ("streaming.jobs", "poll_async_inv_in", "sources"),
    ("streaming.jobs", "poll_async_inv_out", "sources"),
    ("streaming.jobs", "claim_retry_batch", "sources"),
    ("streaming.jobs", "write_invoice_records", "sinks"),
    ("streaming.jobs", "write_retry_emissions", "sinks"),
    ("streaming.jobs", "write_log_and_delete", "sinks"),
]


@contextmanager
def wrapped_layers(recorder: SpanRecorder):
    """Replace each layer function, where the jobs look it up, by a
    wrapper that records a span around the call; restore on exit."""
    import importlib

    saved = []
    for mod_name, attr, layer in LAYER_FUNCTIONS:
        mod = importlib.import_module(f"flink_invoice_processor_spark.{mod_name}")
        fn = getattr(mod, attr)
        unit = attr == "request_micro_batch"

        def wrapper(*a, _fn=fn, _name=attr, _layer=layer, _unit=unit, **kw):
            with recorder.span(_name, _layer, unit=_unit):
                return _fn(*a, **kw)

        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
