"""Per-layer metrics of a traced run: span timings and counts noted by
the workload, joined with the event log's job/task metrics.

Each metric names the span it is measured around.  A layer a workload
does not enter reads 0 on that workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from spans import attribute, busy_seconds

MB = 2**20
SEARCH_KINDS = ("match", "bool", "needle", "match_phrase", "prefix")
FACET_KINDS = {
    "date_facet.hybrid_ms": "hybrid",
    "date_facet.approx_ms": "approx",
    "date_facet.exact_minute_ms": "exact_minute",
    "date_facet.sliced_ms": "sliced",
    "term_list.ms": "term_list",
    "core_facet.ms": "terms",
}

# name -> (unit, better, span it is measured around, end-to-end metric it should move)
METRICS = {
    "session.get_spark_s": ("s", "lower", "session.get_spark", "setup_s"),
    "process.peak_rss_mb": ("MB", "lower", "whole run", "none (memory; not gated)"),
    "postings.build_index_s": ("s", "lower", "postings.build_index", "setup_s (search)"),
    "postings.write_index_s": ("s", "lower", "postings.write_index", "setup_s (search)"),
    "postings.build.jobs": ("count", "lower", "ingest.build", "setup_s (search)"),
    "postings.build.task_cpu_s": ("s", "lower", "ingest.build", "setup_s (search)"),
    "postings.build.shuffle_write_mb": ("MB", "lower", "ingest.build", "setup_s (search)"),
    "postings.build.spill_mb": ("MB", "lower", "ingest.build", "setup_s (search)"),
    "postings.index_mb": ("MB", "lower", "postings.write_index", "setup_s, latency_geomean_ms (search)"),
    "postings.append_to_index_s": ("s", "lower", "postings.append_to_index", "setup_s, latency_geomean_ms (search)"),
    "postings.append.jobs": ("count", "lower", "postings.append_to_index", "setup_s (search)"),
    "postings.append.rewrite_bytes_per_delta_byte": ("ratio", "lower", "postings.append_to_index", "setup_s (search)"),
    "postings.read_index_ms": ("ms", "lower", "postings.read_index", "setup_s, latency_geomean_ms (search)"),
    "bm25.warm_index_s": ("s", "lower", "bm25.warm_index", "setup_s, latency_geomean_ms (search)"),
    "bm25.term_cache_miss_rate": ("ratio", "lower", "request", "latency_geomean_ms (search)"),
    "bm25.score_queries_call_ms": ("ms", "lower", "bm25.score_queries", "ops_per_s (search)"),
    "bm25.batch.collect_s": ("s", "lower", "bm25.batch.collect", "ops_per_s (search)"),
    "bm25.batch.tasks": ("count", "lower", "request[batch]", "ops_per_s (search)"),
    "bm25.batch.task_cpu_s": ("s", "lower", "request[batch]", "ops_per_s (search)"),
    "bm25.batch.shuffle_read_mb": ("MB", "lower", "request[batch]", "ops_per_s (search)"),
    "bm25.wand.collect_s": ("s", "lower", "bm25.wand.collect", "ops_per_s (search)"),
    "bm25.wand.task_cpu_s": ("s", "lower", "request[batch_wand]", "ops_per_s (search)"),
    "bm25.wand.max_task_s": ("s", "lower", "request[batch_wand]", "ops_per_s (search)"),
    "bm25.wand_skip_rate": ("ratio", "higher", "bm25.score_queries[prune]", "ops_per_s (search)"),
    "search.search_topk_call_ms": ("ms", "lower", "search.search_topk", "latency_geomean_ms (search)"),
    "search.collect_ms": ("ms", "lower", "search.collect", "latency_geomean_ms (search)"),
    "search.jobs_per_request": ("count", "lower", "request[_search]", "latency_geomean_ms, ops_per_s (search)"),
    "search.stages_per_request": ("count", "lower", "request[_search]", "latency_geomean_ms, ops_per_s (search)"),
    "search.tasks_per_request": ("count", "lower", "request[_search]", "latency_geomean_ms, ops_per_s (search)"),
    "search.driver_only_ms": ("ms", "lower", "request[_search]", "latency_geomean_ms (search)"),
    "search.scheduler_delay_ms": ("ms", "lower", "request[_search]", "ops_per_s (search)"),
    "request_parser.parse_request_ms": ("ms", "lower", "request_parser.parse_request", "latency_geomean_ms (facets)"),
    "facet_query.run_call_ms": ("ms", "lower", "facet_query.run", "latency_geomean_ms (facets)"),
    "date_facet.hybrid_ms": ("ms", "lower", "facet.collect[hybrid]", "latency_geomean_ms, ops_per_s (facets)"),
    "date_facet.approx_ms": ("ms", "lower", "facet.collect[approx]", "latency_geomean_ms, ops_per_s (facets)"),
    "date_facet.exact_minute_ms": ("ms", "lower", "facet.collect[exact_minute]", "latency_geomean_ms, ops_per_s (facets)"),
    "date_facet.sliced_ms": ("ms", "lower", "facet.collect[sliced]", "latency_geomean_ms, ops_per_s (facets)"),
    "term_list.ms": ("ms", "lower", "facet.collect[term_list]", "latency_geomean_ms, ops_per_s (facets)"),
    "core_facet.ms": ("ms", "lower", "facet.collect[terms]", "latency_geomean_ms, ops_per_s (facets)"),
    "distinct_count.tipped_bucket_share": ("ratio", "lower", "facet.collect[hybrid]", "ops_per_s (facets)"),
    "distinct_count.max_rel_err": ("ratio", "lower", "facet.collect[hybrid, approx]", "correct (facets)"),
    "facets.task_cpu_s": ("s", "lower", "request[facet]", "latency_geomean_ms (facets)"),
    "facets.shuffle_write_mb": ("MB", "lower", "request[facet]", "latency_geomean_ms (facets)"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, spans, jobs, peak_rss_mb: float) -> dict[str, float]:
    inc = attribute(spans, jobs)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    notes = run.layer

    def jobs_of(name: str, **attrs) -> list[list]:
        """Per matching span: the jobs that ran inside it."""
        return [
            inc.get(s.id, [])
            for s in by_name.get(name, [])
            if all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def total(name: str, field: str, **attrs) -> float:
        return sum(getattr(j, field) for js in jobs_of(name, **attrs) for j in js)

    def per_request(kinds, f) -> float:
        return _mean(f(s, inc.get(s.id, [])) for s in by_name.get("request", []) if s.attrs.get("kind") in kinds)

    def note_mean(key: str) -> float:
        return _mean(notes.get(key, []))

    calls = run.setup_calls
    append_out_b = total("postings.append_to_index", "output_b")
    delta_b = sum(notes.get("postings.append.delta_content_bytes", []))
    lookups, misses = sum(notes.get("bm25.term_lookups", [])), sum(notes.get("bm25.term_misses", []))
    r_total = sum(notes.get("bm25.wand_ranges_total", []))
    r_scored = sum(notes.get("bm25.wand_ranges_scored", []))
    m = {
        "session.get_spark_s": calls.get("session.get_spark", 0.0),
        "process.peak_rss_mb": peak_rss_mb,
        "postings.build_index_s": calls.get("postings.build_index", 0.0),
        "postings.write_index_s": calls.get("postings.write_index", 0.0),
        "postings.build.jobs": float(sum(len(js) for js in jobs_of("ingest.build"))),
        "postings.build.task_cpu_s": total("ingest.build", "cpu_s"),
        "postings.build.shuffle_write_mb": total("ingest.build", "shuffle_write_b") / MB,
        "postings.build.spill_mb": total("ingest.build", "spill_b") / MB,
        "postings.index_mb": note_mean("postings.index_mb"),
        "postings.append_to_index_s": calls.get("postings.append_to_index", 0.0),
        "postings.append.jobs": float(sum(len(js) for js in jobs_of("postings.append_to_index"))),
        "postings.append.rewrite_bytes_per_delta_byte": append_out_b / delta_b if delta_b else 0.0,
        "postings.read_index_ms": calls.get("postings.read_index", 0.0) * 1e3,
        "bm25.warm_index_s": calls.get("bm25.warm_index", 0.0),
        "bm25.term_cache_miss_rate": misses / lookups if lookups else 0.0,
        "bm25.score_queries_call_ms": note_mean("bm25.score_queries_call_ms"),
        "bm25.batch.collect_s": note_mean("bm25.batch.collect_s"),
        "bm25.batch.tasks": per_request(("batch",), lambda s, js: sum(j.tasks for j in js)),
        "bm25.batch.task_cpu_s": per_request(("batch",), lambda s, js: sum(j.cpu_s for j in js)),
        "bm25.batch.shuffle_read_mb": per_request(("batch",), lambda s, js: sum(j.shuffle_read_b for j in js) / MB),
        "bm25.wand.collect_s": note_mean("bm25.wand.collect_s"),
        "bm25.wand.task_cpu_s": per_request(("batch_wand",), lambda s, js: sum(j.cpu_s for j in js)),
        "bm25.wand.max_task_s": per_request(("batch_wand",), lambda s, js: max((j.max_task_s for j in js), default=0.0)),
        "bm25.wand_skip_rate": 1.0 - r_scored / r_total if r_total else 0.0,
        "search.search_topk_call_ms": note_mean("search.search_topk_call_ms"),
        "search.collect_ms": note_mean("search.collect_ms"),
        "search.jobs_per_request": per_request(SEARCH_KINDS, lambda s, js: len(js)),
        "search.stages_per_request": per_request(SEARCH_KINDS, lambda s, js: sum(len(j.stages_run) for j in js)),
        "search.tasks_per_request": per_request(SEARCH_KINDS, lambda s, js: sum(j.tasks for j in js)),
        "search.driver_only_ms": per_request(SEARCH_KINDS, lambda s, js: (s.wall - busy_seconds(s, js)) * 1e3),
        "search.scheduler_delay_ms": per_request(SEARCH_KINDS, lambda s, js: sum(j.sched_delay_s for j in js) * 1e3),
        "request_parser.parse_request_ms": _mean(s.wall * 1e3 for s in by_name.get("request_parser.parse_request", [])),
        "facet_query.run_call_ms": _mean(s.wall * 1e3 for s in by_name.get("facet_query.run", [])),
        **{
            name: _mean(s.wall * 1e3 for s in by_name.get("facet.collect", []) if s.attrs.get("kind") == kind)
            for name, kind in FACET_KINDS.items()
        },
        "distinct_count.tipped_bucket_share": note_mean("distinct_count.tipped_bucket_share"),
        "distinct_count.max_rel_err": max(notes.get("distinct_count.max_rel_err", [0.0])),
        "facets.task_cpu_s": per_request(tuple(FACET_KINDS.values()), lambda s, js: sum(j.cpu_s for j in js)),
        "facets.shuffle_write_mb": per_request(tuple(FACET_KINDS.values()), lambda s, js: sum(j.shuffle_write_b for j in js) / MB),
    }
    return m


def overhead(results_dir: str, workload: str, scale: str, traced_e2e: dict) -> dict | None:
    """Tracing overhead: median of the traced runs' end-to-end values
    (this one included) minus the median of the untraced runs' values
    saved in ``results_dir`` for the same workload and scale."""
    runs = {0: [], 1: [traced_e2e]}
    for path in glob.glob(os.path.join(results_dir, f"{workload}-{scale}-s*-t*-*.json")):
        with open(path) as f:
            r = json.load(f)
        runs[r["trace"]].append(r["end_to_end"])
    if not runs[0]:
        return None
    return {
        k: statistics.median(e[k] for e in runs[1]) - statistics.median(e[k] for e in runs[0])
        for k in traced_e2e
    } | {"untraced_runs": len(runs[0]), "traced_runs": len(runs[1])}


def table(metrics: dict, over: dict | None) -> str:
    lines = [f"  {'per-layer metric':<46} {'value':>12} {'unit':<6} {'span':<30} moves"]
    for name, (unit, _, span, moves) in METRICS.items():
        lines.append(f"  {name:<46} {metrics[name]:>12.4f} {unit:<6} {span:<30} {moves}")
    if over is None:
        lines.append("tracing overhead: no untraced run of this workload saved yet")
    else:
        lines.append(
            f"tracing overhead (traced - untraced medians; {over['untraced_runs']} untraced, "
            f"{over['traced_runs']} traced runs):"
        )
        for k, v in over.items():
            if k.endswith("_runs"):
                continue
            lines.append(f"  {k:<46} {v:>+12.4f}")
    return "\n".join(lines)
