"""Metric catalogue (the names BENCHMARK.json lists) and the traced run's
per-layer metrics, computed from spans and the Spark event log.

Per-layer values are per operation: the mean over the run's traced builds,
writes or reads. A layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from .tracing import EventLog, Tracer
from .workloads import STATEMENT_KINDS, Bench

#: (name, unit, better, bound) — printed by every untraced run
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("write_p50_s", "s", "lower", 0.25),
    ("read_p50_ms", "ms", "lower", 0.25),
    ("store_bytes_per_triple", "B", "lower", 0.05),
    ("ok_frac", "frac", "higher", 0.01),
)

#: (name, unit, better) — printed by every traced run
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("changelog.s", "s", "lower"),
    ("changelog.events", "count", "lower"),
    ("changelog.shuffle_mb", "MB", "lower"),
    ("versions.s", "s", "lower"),
    ("agents.s", "s", "lower"),
    ("diffstats.s", "s", "lower"),
    ("diffstats.modified", "count", "lower"),
    ("diffstats.content_pairs", "count", "lower"),
    ("diffstats.pair_ratio", "ratio", "lower"),
    ("statements.s", "s", "lower"),
    ("statements.self_s", "s", "lower"),
    *((f"statements.{k}.triples", "count", "higher") for k in STATEMENT_KINDS),
    ("build.self_s", "s", "lower"),
    ("build.stages", "count", "lower"),
    ("build.tasks", "count", "lower"),
    ("build.gc_s", "s", "lower"),
    ("build.spill_mb", "MB", "lower"),
    ("store.write_s", "s", "lower"),
    ("store.files_written", "count", "lower"),
    ("store.write_straggler_ratio", "ratio", "lower"),
    ("store.bytes_written_mb", "MB", "lower"),
    ("ingest.rows_rewritten_per_row_added", "ratio", "lower"),
    ("store.list_s", "s", "lower"),
    ("store.files_scanned_per_query", "count", "lower"),
    ("store.rows_scanned_per_result", "ratio", "lower"),
    ("sparql.parse_ms", "ms", "lower"),
    ("sparql.plan_ms", "ms", "lower"),
    ("sparql.exec_ms", "ms", "lower"),
    ("sparql.jobs_per_query", "count", "lower"),
    ("sparql.tasks_per_query", "count", "lower"),
    ("sparql.shuffle_mb_per_query", "MB", "lower"),
    ("results.format_ms", "ms", "lower"),
    ("read.self_ms", "ms", "lower"),
    ("trace.write_overhead_pct", "%", "lower"),
    ("trace.read_overhead_pct", "%", "lower"),
)


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def per_layer(bench: Bench, log: EventLog, session_start_s: float) -> dict:
    t: Tracer = bench.tracer
    spans = t.spans

    def named(name):
        return [s for s in spans if s.name == name]

    def secs(name):
        return _mean(s.seconds for s in named(name))

    def counts(span):
        return log.counts(t.job_groups(span.id))

    out: dict[str, float] = {"session.start_s": session_start_s}
    for layer in ("changelog", "versions", "agents", "diffstats", "statements"):
        out[f"{layer}.s"] = secs(layer)
    out["changelog.shuffle_mb"] = _mean(counts(s).shuffle_mb for s in named("changelog"))
    last = bench.build_stats[-1] if bench.build_stats else {}
    out["changelog.events"] = last.get("changelog.events", 0)
    out["diffstats.modified"] = last.get("diffstats.modified", 0)
    out["diffstats.content_pairs"] = last.get("diffstats.content_pairs", 0)
    out["diffstats.pair_ratio"] = (out["diffstats.content_pairs"]
                                   / max(1, out["diffstats.modified"]))
    for k in STATEMENT_KINDS:
        out[f"statements.{k}.triples"] = last.get(f"statements.{k}.triples", 0)
    out["statements.self_s"] = _mean(t.self_seconds(s) for s in named("statements"))
    out["build.self_s"] = _mean(t.self_seconds(s) for s in named("build.traced"))

    coarse = [counts(s) for s in named("build")]
    out["build.stages"] = _mean(c.stages for c in coarse)
    out["build.tasks"] = _mean(c.tasks for c in coarse)
    out["build.gc_s"] = _mean(c.gc_s for c in coarse)
    out["build.spill_mb"] = _mean(c.spill_mb for c in coarse)

    writes = [counts(s) for s in named("store.write")]
    out["store.write_s"] = secs("store.write")
    out["store.files_written"] = _mean(c.files_written for c in writes)
    out["store.write_straggler_ratio"] = _mean(c.straggler_ratio for c in writes)
    out["store.bytes_written_mb"] = _mean(bench.write_mb)
    out["ingest.rows_rewritten_per_row_added"] = _mean(bench.ingest_amplification)

    # "read": a SPARQL or canned query; "scan": the whole store read back
    reads = named("read")
    read_counts = [counts(s) for s in reads]
    store_counts = read_counts + [counts(s) for s in named("scan")]
    out["store.list_s"] = secs("store.list")
    out["store.files_scanned_per_query"] = _mean(c.files_read for c in store_counts)
    result_rows = sum(o.result_rows for o in bench.ops if o.span is not None)
    out["store.rows_scanned_per_result"] = (
        sum(c.records_read for c in store_counts) / max(1, result_rows))
    for name in ("sparql.parse", "sparql.plan", "sparql.exec", "results.format"):
        out[f"{name}_ms"] = secs(name) * 1e3
    out["sparql.jobs_per_query"] = _mean(c.jobs for c in read_counts)
    out["sparql.tasks_per_query"] = _mean(c.tasks for c in read_counts)
    out["sparql.shuffle_mb_per_query"] = _mean(c.shuffle_mb for c in read_counts)
    out["read.self_ms"] = _mean(t.self_seconds(s) for s in reads) * 1e3

    by_mode = {m: [o.seconds for o in bench.ops if o.kind == "write" and o.mode == m]
               for m in ("coarse", "layers")}
    out["trace.write_overhead_pct"] = (
        (statistics.median(by_mode["layers"]) / statistics.median(by_mode["coarse"]) - 1) * 100
        if all(by_mode.values()) else 0.0)
    out["trace.read_overhead_pct"] = (
        (statistics.median(bench.read_overhead) - 1) * 100 if bench.read_overhead else 0.0)
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: (out[name], units[name]) for name, *_ in PER_LAYER}


def span_summary(t: Tracer) -> dict:
    """name -> {n, total_s, self_s}: where the traced run's time went."""
    out: dict[str, dict] = {}
    for s in t.spans:
        d = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
        d["n"] += 1
        d["total_s"] += s.seconds
        d["self_s"] += t.self_seconds(s)
    return out
