"""Metric definitions, layer instrumentation and the result record.

End-to-end metrics (``--trace 0``) are measured with no wrapper in the
engine. Per-layer metrics (``--trace 1``) come from spans recorded
around the engine's layer functions; a metric of a layer the workload
never calls reads 0 (no time busy, no jobs). BENCHMARK.json lists the
same names and units; perfbench/README.md says which end-to-end metric
and workload each per-layer metric should move.
"""

from __future__ import annotations

import json
import math
import os
import statistics

WORKLOAD_NAMES = ("recall_single", "recall_batch", "ingest_mixed")

# gated end-to-end metrics: every workload reports each of them
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
}

# printed in the report for the workloads that have them, not gated:
# not every workload writes, and a tail needs 11+ samples
REPORT_ONLY = {
    "query_tail_ms": "ms",
    "write_p50_ms": "ms",
    "rows_ingested_per_s": "1/s",
    "store_bytes_per_input_byte": "ratio",
    "failed_op_ratio": "ratio",
}

# (name, unit, how, spans): span metrics are the median over traced ops
# of a per-op value. "ms"/"jobs"/"stages"/"tasks"/"count" sum that field
# over the named spans (jobs/stages/tasks inclusive of child spans);
# "ms@op" and "count@op" only count spans inside the op itself (not the
# standalone branch probes that follow a traced op). Counts are taken
# over the ops of the first COUNT_CYCLES cycles only, so they repeat
# exactly between runs of one seed however many ops the window holds.
SPAN_METRICS = [
    ("pipeline.call_ms", "ms", "ms@op", ("pipeline.call",)),
    ("pipeline.collect_ms", "ms", "ms@op", ("pipeline.collect",)),
    ("pipeline.jobs_per_op", "count", "jobs", ("pipeline.call", "pipeline.collect")),
    ("pipeline.stages_per_op", "count", "stages", ("pipeline.call", "pipeline.collect")),
    ("pipeline.tasks_per_op", "count", "tasks", ("pipeline.call", "pipeline.collect")),
    ("vector.embed_query_ms", "ms", "ms@op", ("vector.embed_query",)),
    ("similarity.call_ms", "ms", "ms@op", ("similarity.call",)),
    ("similarity.jobs_per_op", "count", "jobs", ("similarity.collect",)),
    ("similarity.collect_ms", "ms", "ms", ("similarity.collect",)),
    ("keyword.call_ms", "ms", "ms@op", ("keyword.call",)),
    ("keyword.collect_ms", "ms", "ms", ("keyword.collect",)),
    ("graph.call_ms", "ms", "ms@op", ("graph.call",)),
    ("graph.jobs_per_op", "count", "jobs", ("graph.call",)),
    ("cache.checkpoints_per_op", "count", "count@op", ("cache.checkpoint",)),
    ("cache.checkpoint_ms", "ms", "ms@op", ("cache.checkpoint",)),
    ("fusion.call_ms", "ms", "ms@op", ("fusion.call",)),
    ("ann.bucketed_topk_ms", "ms", "ms@op", ("ann.call", "ann.collect")),
    ("ann.jobs_per_op", "count", "jobs", ("ann.call", "ann.collect")),
    ("buffer.hierarchy_epoch_ms", "ms", "ms@op", ("buffer.hierarchy_epoch",)),
    ("buffer.hierarchy_jobs_per_epoch", "count", "jobs", ("buffer.hierarchy_epoch",)),
    ("buffer.index_epoch_ms", "ms", "ms@op", ("buffer.index_epoch",)),
    ("buffer.vector_epoch_ms", "ms", "ms@op", ("buffer.vector_epoch",)),
]
COUNT_CYCLES = 4
PER_LAYER = {name: unit for name, unit, _, _ in SPAN_METRICS}
PER_LAYER.update({
    "pipeline.rows_scanned_per_result": "rows",
    "pipeline.failed_tasks": "count",
    "keyword.postings_rows_per_result": "rows",
    "keyword.index_build_s": "s",
    "graph.edges_build_s": "s",
    "buffer.files_per_epoch": "count",
    "buffer.bytes_per_epoch": "bytes",
    "hierarchy.m1_chunks_per_epoch": "count",
    "hierarchy.m2_facts_per_epoch": "count",
    "session.start_s": "s",
    "catalog.load_s": "s",
    "process.jvm_peak_rss_mb": "MB",
    "trace.query_p50_ms": "ms",
    "trace.overhead_ms": "ms",
})


def instrument(tracer) -> None:
    """Wrap the engine's layer functions. Both the defining module and
    every module that imported the name at load time are patched, so
    calls through either binding are recorded."""
    from memfuse_spark import cache
    from memfuse_spark.operators import ann, graph, hierarchy, keyword, similarity
    from memfuse_spark.plans import pipeline
    from memfuse_spark.streaming import buffer

    for module, attr, name in (
        (pipeline, "similarity_topk", "similarity.call"),
        (similarity, "similarity_topk", "similarity.call"),
        (similarity, "similarity_join", "similarity.call"),
        (pipeline, "bm25_topk_from_index", "keyword.call"),
        (keyword, "bm25_topk_from_index", "keyword.call"),
        (keyword, "bm25_batch_topk_from_index", "keyword.call"),
        (keyword, "bm25_topk_from_stream_index", "keyword.call"),
        (graph, "contextual_retrieval", "graph.call"),
        (cache, "tracked_local_checkpoint", "cache.checkpoint"),
        (pipeline, "rrf_fusion", "fusion.call"),
        (pipeline, "union_results", "fusion.call"),
        (pipeline, "tag_store", "fusion.call"),
        (ann, "bucketed_topk", "ann.call"),
        (buffer, "write_hierarchy_epoch", "buffer.hierarchy_epoch"),
        (buffer, "write_index_epoch", "buffer.index_epoch"),
        (buffer, "write_vector_epoch", "buffer.vector_epoch"),
        (hierarchy, "m0_from_events", "hierarchy.m0"),
        (hierarchy, "m1_from_m0", "hierarchy.m1"),
        (hierarchy, "m2_facts_from_m1", "hierarchy.m2"),
    ):
        tracer.wrap(module, attr, name)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least 10 samples above it; None below 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    i = n - 11
    return 100.0 * (i + 1) / n, xs[i]


def _failed(op) -> bool:
    return op.error is not None or any(v for v in op.checks.values())


def _span_values(tracer, ops) -> dict[str, float]:
    from spans import inclusive

    by_op: dict[int, list] = {}
    for s in tracer.spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    spans_by_id = {s.sid: s for s in tracer.spans}

    def in_op(s) -> bool:
        while s.parent is not None:
            s = spans_by_id[s.parent]
        return s.name.startswith("op.")

    out = {}
    for name, _, how, names in SPAN_METRICS:
        field, _, scope = how.partition("@")
        per_op = []
        for op in ops:
            if field != "ms" and op.cycle >= COUNT_CYCLES:
                continue
            sel = [s for s in by_op.get(op.idx, ()) if s.name in names
                   and (scope != "op" or in_op(s))]
            if not sel:
                continue
            if field == "ms":
                per_op.append(sum(s.ms for s in sel))
            elif field == "count":
                per_op.append(len(sel))
            else:
                per_op.append(sum(inclusive(tracer.spans, s, field) for s in sel))
        out[name] = median(per_op)
    out["pipeline.failed_tasks"] = float(sum(
        inclusive(tracer.spans, s, "failed_tasks")
        for s in tracer.spans if s.parent is None
    ))
    return out


def collect(wl, window_s: float, sizes, tracer, jvm_rss_mb: float) -> dict:
    """The run's result record plus its human-readable report lines."""
    queries = [o for o in wl.ops if o.kind == "query"]
    writes = [o for o in wl.ops if o.kind == "write"]
    failed = sum(_failed(o) for o in wl.ops)
    st = {k: median(v) for k, v in wl.setup_times.items()}
    setup_s = st["session.start_s"] + st.get("catalog.load_s", 0.0) + st["rep_s"]
    per_request = wl.per_request
    untraced = [o.ms for o in queries if not o.traced]
    traced = [o.ms for o in queries if o.traced]
    n_setups = len(wl.setup_times["rep_s"])

    report = [
        f"perfbench workload={wl.name} sizes={sizes} window_s={window_s:.2f} "
        f"ops={len(wl.ops)} (queries={len(queries)}, writes={len(writes)})",
        "  set-up: " + ", ".join(
            f"{k}=[{', '.join(f'{x:.2f}' for x in v)}]" for k, v in wl.setup_times.items()
        ),
    ]
    e2e = {
        "setup_s": (setup_s, f"median of {n_setups} set-ups"),
        "query_p50_ms": (median(untraced or traced), f"n={len(untraced or traced)}"),
        "queries_per_s": (len(queries) * per_request / window_s,
                          f"{len(queries) * per_request} queries"),
    }
    extra = {}
    t = tail(untraced or traced)
    extra["query_tail_ms"] = (
        (t[1], f"p{t[0]:.0f}, n={len(untraced or traced)}") if t
        else (None, f"n/a: {len(untraced or traced)} samples, needs 11")
    )
    if wl.name == "ingest_mixed":
        write_s = sum(o.ms for o in writes) / 1e3
        files = wl.store_files()
        in_bytes = wl.input_bytes()
        extra["write_p50_ms"] = (median(o.ms for o in writes), f"n={len(writes)}")
        extra["rows_ingested_per_s"] = (
            wl.rows_ingested() / write_s if write_s else 0.0, f"{wl.rows_ingested()} rows"
        )
        extra["store_bytes_per_input_byte"] = (
            sum(b for _, b in files) / in_bytes if in_bytes else 0.0,
            f"{sum(b for _, b in files)} / {in_bytes} bytes",
        )
    extra["failed_op_ratio"] = (failed / max(1, len(wl.ops)), f"{failed} / {len(wl.ops)} ops")
    units = {**END_TO_END, **REPORT_ONLY}
    for name, (value, note) in {**e2e, **extra}.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        report.append(f"  {name} = {shown} {units[name]}  ({note})")
    for kind, ops in (("query", queries), ("write", writes)):
        if ops:
            report.append(f"  {kind} latencies ms: " + " ".join(
                f"{o.ms:.0f}{'*' if o.traced else ''}" for o in ops))
    for op in wl.ops:
        if _failed(op):
            report.append(f"  FAILED op {op.idx} ({op.kind}): {op.error or op.checks}")

    if tracer is None:
        values = {k: v for k, (v, _) in e2e.items()}
        spec = END_TO_END
    else:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(_span_values(tracer, [o for o in wl.ops if o.traced]))
        for k, v in wl.layer_samples.items():
            values[k] = median(v)
        for k in ("keyword.index_build_s", "graph.edges_build_s", "session.start_s",
                  "catalog.load_s"):
            values[k] = st.get(k, 0.0)
        if wl.name == "ingest_mixed":
            values.update(_epoch_values(wl))
        values["process.jvm_peak_rss_mb"] = jvm_rss_mb
        values["trace.query_p50_ms"] = median(traced)
        values["trace.overhead_ms"] = median(traced) - median(untraced) if untraced else 0.0
        for layer, ms in sorted(tracer.self_ms_by_layer().items()):
            report.append(f"  self time {layer}: {ms:.1f} ms")
        spec = PER_LAYER
    metrics = {
        name: {"value": _finite(values[name]), "unit": unit} for name, unit in spec.items()
    }
    if tracer is not None:
        for name in spec:
            report.append(f"  {name} = {metrics[name]['value']:.6g} {spec[name]}")
    return {
        "correct": failed == 0,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": metrics,
        "report": report,
    }


def _epoch_values(wl) -> dict[str, float]:
    """Files, bytes and M1/M2 rows of the epoch each cycle appended,
    median over cycles."""
    part = f"epoch_id={wl.EPOCH}"
    files: dict[str, list[int]] = {}
    for path, size in wl.store_files():
        if part in path.split(os.sep):
            files.setdefault(os.path.relpath(path, wl.work).split(os.sep)[1], []).append(size)
    counts = wl.counts.values()
    return {
        "buffer.files_per_epoch": median(len(v) for v in files.values()),
        "buffer.bytes_per_epoch": median(sum(v) for v in files.values()),
        "hierarchy.m1_chunks_per_epoch": median(c["m1"].get(wl.EPOCH, 0) for c in counts),
        "hierarchy.m2_facts_per_epoch": median(c["m2"].get(wl.EPOCH, 0) for c in counts),
    }


def _finite(v: float) -> float:
    return float(v) if math.isfinite(v) else 0.0


def write_oplog(wl, path: str) -> None:
    """Every op's inputs and result ids, in order: the determinism record
    the smoke test compares between two runs of one seed."""
    def ids(result):
        if isinstance(result, dict) and "files" in result:
            return {"shift": result["shift"],
                    "files": {k: os.path.basename(v) for k, v in result["files"].items()}}
        if isinstance(result, dict):
            return {str(q): [i for i, _ in rows] for q, rows in result.items()}
        if isinstance(result, tuple):
            return [[i for i, _ in part] for part in result]
        return [i for i, _ in result or ()]

    with open(path, "w") as fh:
        json.dump(
            [{"idx": o.idx, "kind": o.kind, "inputs": o.inputs, "ids": ids(o.result)}
             for o in wl.ops],
            fh,
        )
