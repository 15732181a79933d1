"""Per-layer metrics from spans, DB calls and streaming progress, and the
result line."""

from __future__ import annotations

import json
import os
from collections import defaultdict

from .stats import median
from .tracing import read_db_ops, self_times

#: layers whose self time is reported as ``self.<layer>_ms``
SELF_LAYERS = ("streaming", "operators", "sources", "sinks", "packets", "db",
               "functions", "plans")

_SINKS = ("write_invoice_records", "write_retry_emissions", "write_log_and_delete")
_REQUEST_OPS = ("parse_request_packets", "transform_retry_records")
_RESPONSE_OPS = ("make_response_envelope", "process_response_batch",
                 "transform_response_retry_records")


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def streaming_progress(progress: list[dict]) -> dict[str, float]:
    """Per micro-batch numbers from the request query's ``recentProgress``
    (batches that read input only)."""
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    over = [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
            for p in progress]
    return {"streaming.request_add_batch_ms.p50": _med(add),
            "streaming.request_add_batch_ms.max": float(max(add, default=0)),
            "streaming.request_trigger_overhead_ms.p50": _med(over)}


def packet_counts(received: list[tuple], batch_size: int) -> dict[str, float]:
    sizes = [len(json.loads(p)["inv_pack_res"]) for _, _, p in received]
    return {"packets.emitted": float(len(sizes)),
            "packets.fill_ratio": _ratio(sum(sizes), len(sizes) * batch_size)}


def span_layers(spans: list[dict]) -> dict[str, float]:
    """Layer metrics from the recorded spans and their DB-call children."""
    by_name: dict[str, list] = defaultdict(list)
    kids: dict[str, list] = defaultdict(list)
    for s in spans:
        if s["layer"] == "db":
            kids[s["parent"]].append(s)
        else:
            by_name[s["name"]].append(s)

    def ms(s):
        return (s["t1"] - s["t0"]) * 1000.0

    def rows(spans_, kind):
        return sum(k["attrs"]["rows"] for s in spans_ for k in kids[s["id"]]
                   if k["attrs"]["sql"] == kind)

    def per_unit(names, units):
        tot = defaultdict(float)
        for n in names:
            for s in by_name[n]:
                tot[s["unit"]] += ms(s)
        return [tot[u["id"]] for u in units]

    L: dict[str, float] = {}
    batches, cycles = by_name["request_micro_batch"], by_name["response_cycle"]
    inserts, retries, logs = (by_name[n] for n in _SINKS)
    L["streaming.spark_jobs_per_batch"] = _med(b["attrs"]["spark_jobs"] for b in batches)
    L["streaming.spark_tasks_per_batch"] = _med(b["attrs"]["spark_tasks"] for b in batches)
    batch_rows = defaultdict(int)
    for s in inserts + retries:
        batch_rows[s["unit"]] += rows([s], "insert:async_inv_in") + rows(
            [s], "insert:invoice_retry")
    L["streaming.request_batch_invoices.p50"] = _med(batch_rows[b["id"]] for b in batches)
    L["streaming.response_cycle_ms.p50"] = _med(ms(c) for c in cycles)
    L["streaming.response_cycle_ms.max"] = max((ms(c) for c in cycles), default=0.0)
    L["streaming.spark_jobs_per_cycle"] = _med(c["attrs"]["spark_jobs"] for c in cycles)
    L["streaming.spark_tasks_per_cycle"] = _med(c["attrs"]["spark_tasks"] for c in cycles)

    L["operators.request.plan_ms"] = _med(per_unit(_REQUEST_OPS, batches))
    valid = rows(inserts, "insert:async_inv_in")
    created = rows(retries, "insert:invoice_retry")
    L["operators.request.valid_ratio"] = _ratio(valid, valid + created)
    L["operators.response.plan_ms"] = _med(per_unit(_RESPONSE_OPS, cycles))

    polls = by_name["poll_async_inv_in"] + by_name["poll_async_inv_out"]
    poll_rows = [rows([p], "fetch") for p in polls]
    L["sources.poll_ms.p50"] = _med(ms(p) for p in polls)
    L["sources.poll_rows.p50"] = _med(poll_rows)
    L["sources.empty_poll_ratio"] = _ratio(sum(r == 0 for r in poll_rows), len(polls))
    claims = by_name["claim_retry_batch"]
    claim_rows = [rows([c], "fetch") for c in claims]
    L["sources.claim_ms.p50"] = _med(ms(c) for c in claims)
    L["sources.claimed_rows"] = float(sum(claim_rows))
    L["sources.claim_empty_ratio"] = _ratio(sum(r == 0 for r in claim_rows), len(claims))

    L["sinks.insert_ms.p50"] = _med(ms(s) for s in inserts)
    L["sinks.insert_rows"] = float(valid)
    L["sinks.retry_ms.p50"] = _med(ms(s) for s in retries)
    dead = rows(retries, "insert:invoice_error_log")
    L["sinks.retry_rows.create"] = float(created)
    L["sinks.retry_rows.update"] = float(rows(retries, "update:invoice_retry"))
    # a dead-lettered row is deleted from the queue one statement at a time
    L["sinks.retry_rows.delete"] = float(rows(retries, "delete:invoice_retry") - dead)
    L["sinks.retry_rows.max_retry"] = float(dead)
    L["sinks.log_delete_ms.p50"] = _med(ms(s) for s in logs)
    L["sinks.log_delete_rows"] = float(rows(logs, "insert:async_inv_succ_log"))
    sink_ops = [k for s in inserts + retries + logs for k in kids[s["id"]]]
    written = sum(k["attrs"]["rows"] for k in sink_ops
                  if k["attrs"]["sql"].split(":")[0] in ("insert", "update", "delete"))
    commits = sum(k["attrs"]["sql"] == "commit" for k in sink_ops)
    L["sinks.db_ms"] = sum(ms(k) for k in sink_ops)
    L["sinks.db_commits"] = float(commits)
    L["sinks.rows_per_commit"] = _ratio(written, commits)
    L["sinks.rollbacks"] = float(sum(k["attrs"]["sql"] == "rollback" for k in sink_ops))
    L["packets.sink_ms.p50"] = _med(ms(s) for s in by_name["packet_sink"])
    for layer, secs in self_times(spans).items():
        if layer in SELF_LAYERS:
            L[f"self.{layer}_ms"] = secs * 1000.0
    return L


def trace_layers(run, out: str, args) -> None:
    """Attach the DB calls to their spans, write the span file and derive
    the per-layer metrics."""
    rec = run.recorder
    rec.add_db_ops(read_db_ops(run.db_log_dir))
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl")
    rec.write(path)
    run.info["span_file"] = os.path.relpath(path)
    run.layer.update(span_layers(rec.spans))
    names = [s["name"] for s in rec.spans]
    run.info["traced micro-batches"] = names.count("request_micro_batch")
    run.info["traced response cycles"] = names.count("response_cycle")
    run.layer["session.start_s"] = run.session_s
    run.layer["session.setup_round_s"] = median(run.round_s)
    run.layer["session.warmup_s"] = run.warmup_s


def result(run, spec: dict) -> dict:
    """The result line.  Every declared metric is reported; a layer the
    workload does not use reports 0."""
    kind = "per_layer" if run.trace else "end_to_end"
    values = dict(run.layer) if run.trace else dict(run.e2e)
    if run.trace:
        values["failed_ratio"] = _ratio(run.failed, run.attempted)
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        if v is None and not run.trace:
            run.fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    return {"correct": run.failed == 0, "attempted": max(run.attempted, 1),
            "failed": run.failed, "metrics": metrics}


def summary(run, res: dict, args, f) -> None:
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}: correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}", file=f)
    for name, m in res["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}", file=f)
    for k, v in run.info.items():
        print(f"  [{k}] {v}", file=f)
    for msg in run.failures[:10]:
        print(f"  FAILED: {msg}", file=f)
