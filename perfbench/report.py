"""Turns a run's op results and spans into the reported metrics."""

from __future__ import annotations

from harness import Span, median, self_time, sum_counts, vm_hwm_mb

# per-layer metrics taken from the spans of each traced op
SELF_LAYERS = ("sources", "plans", "sinks")
SPARK_COUNTS = ("jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_bytes", "spill_bytes")
RECORDED = ("publish.files_written", "publish.bytes_written", "publish.linked_files")


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, results: list[dict], setup_s: float, jvm_pid: int) -> dict:
    """Metrics of the untraced ops, in the units BENCHMARK.json names."""
    queries = [x for r in results for x in r["query_s"]]
    return {
        "setup_s": _m(setup_s, "s"),
        "publish_s": _m(median([r["publish_s"] for r in results]), "s"),
        "read_pass_s": _m(median([r["read_s"] for r in results]), "s"),
        "query_p50_ms": _m(1000.0 * median(queries), "ms"),
        "bytes_written_per_input_byte": _m(median([r["write_ratio"] for r in results]), "B/B"),
        "peak_rss_mb": _m(vm_hwm_mb() + vm_hwm_mb(jvm_pid), "MB"),
    }


def _roots(spans: list[Span]) -> dict[int, Span]:
    """span id → the outermost span above it (itself when top-level)."""
    by_id = {s.span_id: s for s in spans}
    out = {}
    for s in spans:
        top = s
        while top.parent is not None and top.parent in by_id:
            top = by_id[top.parent]
        out[s.span_id] = top
    return out


def _is_read(span: Span, roots: dict[int, Span]) -> bool:
    return roots[span.span_id].name.startswith("query.")


def op_layers(wl, tracer, op_id: int) -> dict[str, float]:
    """Per-layer figures of one traced op."""
    spans = tracer.op_spans(op_id)
    roots = _roots(spans)
    out = {}
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = sum(self_time(s, spans) for s in spans if s.layer == layer)
    for k in SPARK_COUNTS:
        out[f"spark.{k}"] = sum_counts(spans, k)
    read = [s for s in spans if _is_read(s, roots)]
    builds = [s for s in read if s.layer == "plans"]
    collects = [s for s in read if s.layer == "spark"]
    out["publish.jobs"] = sum_counts(spans, "jobs", lambda s: not _is_read(s, roots))
    out["read.build_s"] = sum(s.duration for s in builds)
    out["read.exec_s"] = sum(s.duration for s in collects)
    out["read.build_jobs"] = sum_counts(read, "jobs", lambda s: s.layer != "spark")
    out["read.exec_jobs"] = sum_counts(collects, "jobs")
    rows = wl.layers.get(op_id, {}).get("read.rows_returned", 0.0)
    out["read.rows_scanned_per_row_returned"] = sum_counts(read, "input_records") / max(rows, 1.0)
    for k in RECORDED:
        out[k] = wl.layers[op_id][k]
    out["trace.spans"] = len(spans)
    return out


def per_layer(wl, tracer, results: list[dict], steal0, steal1) -> dict:
    """Medians over the traced ops of the per-op layer figures."""
    lost = {s.op_id for s in tracer.spans if s.counts is None}
    per_op = [op_layers(wl, tracer, r["op_id"]) for r in results if r["op_id"] not in lost]
    if not per_op:
        return {}
    metrics = {name: _m(median([o[name] for o in per_op]), unit(name)) for name in per_op[0]}
    metrics["jvm.gc_ms"] = _m(median([r["gc_ms"] for r in results]), "ms")
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1e-9)
    metrics["host.steal_pct"] = _m(100.0 * steal, "%")
    metrics["trace.op_s"] = _m(median([r["op_s"] for r in results]), "s")
    # the tracer's own cost inside the traced ops; the untraced run of
    # the same seed gives the end-to-end difference
    metrics["trace.overhead_frac"] = _m(
        median([tracer.cost.get(r["op_id"], 0.0) / r["op_s"] for r in results]), "frac")
    metrics["trace.failures"] = _m(tracer.failures, "count")
    return metrics


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    if name.endswith("per_row_returned"):
        return "rows/row"
    return "count"


def span_table(wl, tracer, results: list[dict]) -> dict:
    """Per span name, the median over traced ops of its per-op totals:
    wall and self time and the Spark counts of its own jobs; under
    ``recorded``, the medians of the figures the workload recorded."""
    ops = [r["op_id"] for r in results]
    recorded: dict[str, list[float]] = {}
    for op_id in ops:
        for k, v in wl.layers.get(op_id, {}).items():
            recorded.setdefault(k, []).append(v)
    table: dict[str, dict[str, list[float]]] = {"recorded": recorded}
    for op_id in ops:
        spans = tracer.op_spans(op_id)
        per_name: dict[str, dict[str, float]] = {}
        for s in spans:
            row = per_name.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["s"] += s.duration
            row["self_s"] += self_time(s, spans)
            for k, v in (s.counts or {}).items():
                row[k] = row.get(k, 0) + v
        for name, row in per_name.items():
            for k, v in row.items():
                table.setdefault(name, {}).setdefault(k, []).append(v)
    return {name: {k: median(v) for k, v in cols.items()} for name, cols in table.items()}
