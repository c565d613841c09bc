"""Turn one run's operation records and spans into the reported metrics.

End-to-end metrics come from the untraced run.  Per-layer metrics come
from the traced run: Spark counts and the plan census from the warm-up
round (one operation per template, executed alone, so the counts repeat
exactly for a seed), timings from the traced rounds of the measured loop.
Names and units here are the ones BENCHMARK.json lists.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from core import median, metric, percentile
from sparkstats import PLAN_KEYS, busy_ms

LAYERS = ("harness", "sources", "plans", "graphite", "functions", "streaming", "pipeline")

#: span name -> per-layer timing metric (median over traced ops, ms)
SPAN_METRICS = {
    "plans.build_ms": ("query_range", "m3ql.evaluate"),
    "graphite.build_ms": ("evaluate",),
    "functions.render_ms": ("to_prom_matrix", "to_graphite_render"),
    "functions.metadata_ms": ("label_values", "series_match"),
    "sources.read_ms": ("read_namespace", "read_namespace_bucketed", "read_series_dict"),
    "sources.decode_ms": ("decode",),
    "sources.dict_write_ms": ("write_series_dict",),
    "sources.fact_write_ms": ("write_namespace_batch",),
    "sources.housekeep_ms": ("housekeep_namespace",),
    "streaming.rollup_ms": ("tumbling_aggregates",),
    "pipeline.arrival_step_ms": ("document_arrival_step",),
    "pipeline.semdedup_batch_ms": ("semdedup_ingest_batch",),
}
RENDER_SPANS = ("to_prom_matrix", "to_graphite_render", "label_values", "series_match")

#: Spark counts taken from the warm-up round (per op mean)
COUNT_KEYS = ("jobs", "stages", "tasks", "input_rows", "input_bytes",
              "shuffle_records", "shuffle_write_bytes", "shuffle_read_bytes")
#: Spark timings taken from the traced ops (per op median)
TIME_KEYS = ("queue_wait_ms", "executor_run_ms", "executor_cpu_ms", "gc_ms", "spill_bytes")

#: extras a workload's ``finish`` reports, with their units
EXTRA_UNITS = {
    "sources.bytes_written_per_sample": "bytes",
    "sources.bytes_on_disk_per_sample": "bytes",
    "sources.table_files": "count",
    "streaming.rollup_rows": "rows",
    "pipeline.materialize_ms": "ms",
    "pipeline.housekeep_ms": "ms",
    "pipeline.candidate_pairs": "count",
    "pipeline.candidate_precision": "ratio",
    "pipeline.dup_recall": "ratio",
    "pipeline.docs_per_s": "docs/s",
}


def setup_seconds(session_s: float, timings: dict, warm_s: float) -> float:
    """Session start + input generation + seeding + warm-up round.  The
    namespace is seeded in equal batches; their median times their count
    stands for the seeding, so a slow first batch (JIT) does not swing it."""
    total = session_s + warm_s
    for key, vals in timings.items():
        if key == "seed_batch_s":
            total += len(vals) * statistics.median(vals)
        else:
            total += sum(vals)
    return total


def typical_ms(recs) -> float:
    """Each template's median latency, averaged over the templates (every
    template is equally frequent in a round).  One median over the whole
    mix jumps between template clusters (0.3 s metadata calls next to 4 s
    vector matches), and a geometric mean lets the relative jitter of the
    cheapest calls dominate; both read about 12% run-to-run spread where
    this reads about 7%."""
    by_tpl: dict[str, list] = defaultdict(list)
    for r in recs:
        by_tpl[r.template].append(1e3 * r.latency_s)
    return statistics.fmean(median(v) for v in by_tpl.values()) if by_tpl else 0.0


def end_to_end(run, clients: int, setup_s: float, tail_pct: int) -> dict:
    """Throughput follows the closed loop's response-time law: ``clients``
    ops (items) per mean client cycle, so it does not jump with the whole
    number of operations that fit in the window."""
    recs = [r for r in run.records if not r.error]
    lat = [1e3 * r.latency_s for r in recs]
    busy = sum(r.cycle_s for r in run.records) or 1.0
    return {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_ms": metric(typical_ms(recs), "ms"),
        "latency_tail_ms": metric(percentile(lat, tail_pct), "ms"),
        "throughput_ops_s": metric(clients * len(recs) / busy, "ops/s"),
        "items_per_s": metric(clients * sum(r.items for r in recs) / busy, "items/s"),
    }


def per_layer(run, pc0, pc1, session_s, cal_ms, extra, failed_frac, peak_rss_mb) -> dict:
    out: dict[str, dict] = {}
    traced = [r for r in run.records if r.traced and not r.error]
    by_op = run.tracer.op_spans()

    # spans: build / render / write-path timings
    for name, span_names in SPAN_METRICS.items():
        xs = [1e3 * (s.end - s.start) for r in traced for s in by_op.get(r.op_id, [])
              if s.name in span_names]
        out[name] = metric(median(xs), "ms")

    # driver gap: render wall not covered by any of the op's stages
    gaps = []
    for r in traced:
        iv = r.exec.get("_intervals", [])
        for s in by_op.get(r.op_id, []):
            if s.name in RENDER_SPANS:
                lo, hi = 1e3 * (s.start + run.t_epoch), 1e3 * (s.end + run.t_epoch)
                gaps.append((hi - lo) - busy_ms(iv, lo, hi))
    out["functions.driver_gap_ms"] = metric(median(gaps), "ms")

    # Spark counts and plan census: warm-up round, per op
    warm = [r for r in run.warm if r.exec]
    n = max(1, len(warm))
    for k in COUNT_KEYS:
        out[f"exec.{k}"] = metric(sum(r.exec[k] for r in warm) / n, "count"
                                  if k in ("jobs", "stages", "tasks") else
                                  "bytes" if k.endswith("bytes") else "rows")
    for k in PLAN_KEYS:
        out[f"plan.{k}"] = metric(sum(r.exec[k] for r in warm) / n, "count")
    items = sum(r.items for r in run.warm)
    out["exec.rows_examined_per_result"] = metric(
        sum(r.exec["input_rows"] for r in warm) / max(1, items), "rows")
    out["functions.result_rows"] = metric(items / len(run.warm), "rows")
    for k in TIME_KEYS:
        out[f"exec.{k}"] = metric(median(r.exec[k] for r in traced if r.exec),
                                  "bytes" if k.endswith("bytes") else "ms")

    # parse cache over the measured loop
    hits = pc1["hits"] - pc0["hits"]
    look = hits + pc1["misses"] - pc0["misses"]
    out["plans.parse_cache_hit_ratio"] = metric(hits / look if look else 0.0, "ratio")

    # self time per layer, per traced op
    selfs = run.tracer.self_ms()
    for layer in LAYERS:
        out[f"self_ms.{layer}"] = metric(
            statistics.fmean(selfs[r.op_id].get(layer, 0.0) for r in traced) if traced else 0.0,
            "ms")
    out["session.start_ms"] = metric(1e3 * session_s, "ms")

    # tracing price: traced rounds against untraced rounds of the same run
    rounds: dict[tuple[int, bool], float] = defaultdict(float)
    for r in run.records:
        rounds[(r.round, r.traced)] += r.latency_s + r.trace_cost_s
    t_on = [v for (_, tr), v in rounds.items() if tr]
    t_off = [v for (_, tr), v in rounds.items() if not tr]
    ovh = (statistics.fmean(t_on) / statistics.fmean(t_off) - 1.0) if t_on and t_off else 0.0
    out["trace.overhead_frac"] = metric(ovh, "ratio")
    out["run.failed_frac"] = metric(failed_frac, "ratio")
    out["run.calibration_ms"] = metric(cal_ms, "ms")
    # peak RSS of driver + JVM + Python workers: it does not repeat within
    # a tenth run to run (Python worker count and size vary), so it is a
    # per-layer figure, not a gated end-to-end one
    out["run.peak_rss_mb"] = metric(peak_rss_mb, "MB")
    for k, unit in EXTRA_UNITS.items():
        out[k] = metric(extra.get(k, 0.0), unit)
    return out
