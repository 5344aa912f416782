"""The two workloads: set-up, the closed loop over the prepared request
schedule, the ops themselves and their checks.

Every call into the program is timed from outside, inside a span of the
tracer (``spans.py``).  Set-up time counts only the program's own calls
(session, index build/write/append/reopen/warm); generating inputs and
computing expected answers is the benchmark's work, done beforehand in
a process of its own (``prepare.py``).
"""

from __future__ import annotations

import json
import os
import statistics
import time

import oracle
from sysinfo import log

# -- run context ----------------------------------------------------------


class Run:
    """State of one benchmark run: session, tracer, timings, counters."""

    def __init__(self, spark, tracer, wl: dict, params: dict, inputs: str, expect: dict, scratch: str):
        self.spark, self.tracer = spark, tracer
        self.wl, self.params = wl, params
        self.inputs, self.expect, self.scratch = inputs, expect, scratch
        self.setup_calls: dict[str, float] = {}
        self.latencies: dict[str, list[float]] = {}  # by op kind
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = {}

    def timed_setup(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name) as s:
            out = fn(*args, **kwargs)
        self.setup_calls[name] = self.setup_calls.get(name, 0.0) + s.wall
        return out

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def check(self, kind: str, reason: str | None) -> None:
        """Count one checked operation; ``reason`` is why it is wrong."""
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{kind}#{self.attempted}: {reason}")
            log(f"FAILED {kind}#{self.attempted}: {reason}")

    def op(self, kind: str, fn, check) -> None:
        """One closed-loop operation: time ``fn`` inside a request span,
        then check its answer outside the timed region.  An exception
        or a wrong answer counts as a failed operation."""
        try:
            with self.tracer.span("request", request=self.attempted + 1, kind=kind) as s:
                result = fn()
            self.latencies.setdefault(kind, []).append(s.wall)
            reason = check(result)
        except Exception as exc:  # one failed request must not end the run
            reason = f"{type(exc).__name__}: {exc}"
        self.check(kind, reason)

    def loop(self, seconds: float, ops: dict) -> float:
        """Run whole cycles of the op mix until ``seconds`` have passed
        (at least one); whole cycles keep the mix's proportions fixed.
        ``ops[kind]`` takes the cycle number."""
        t0, c = time.perf_counter(), 0
        while True:
            for kind in self.wl["cycle"]:
                ops[kind](c)
            c += 1
            if time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0

    def kind_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.latencies.items()}


# -- search ---------------------------------------------------------------


class SearchWorkload:
    def __init__(self, run: Run):
        self.r = run
        self.cycles = run.expect["cycles"]
        self._exhaustive = None

    def _docs(self, path: str):
        """The shipped build job's input with ``--id-col file_id``: the
        sha guard on the read path, then the code tokenizer."""
        from pyspark.sql import functions as F

        from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
        from elasticsearch_approx_plugin_spark.sources.corpus import with_sha_enforced

        p = self.r.params
        corpus = with_sha_enforced(self.r.spark.read.parquet(path))
        return corpus.select(F.col(p["id_col"]).alias("doc_id"), tokenize_code(p["text_col"]).alias("tokens"))

    def setup(self) -> None:
        from elasticsearch_approx_plugin_spark.operators.bm25 import warm_index
        from elasticsearch_approx_plugin_spark.operators.postings import (
            append_to_index,
            build_index,
            read_index,
            write_index,
        )

        r, p = self.r, self.r.params
        spark, want = r.spark, r.expect["ingest"]
        self.index_dir = os.path.join(r.scratch, "index")

        # the shipped build job, then its --append with the delta
        with r.tracer.span("ingest.build"):
            index = r.timed_setup(
                "postings.build_index", build_index, self._docs(os.path.join(r.inputs, "corpus")),
                range_bits=p["range_bits"],
            )
            r.timed_setup("postings.write_index", write_index, index, self.index_dir, n_buckets=p["n_buckets"])
        r.note("postings.index_mb", _dir_bytes(self.index_dir) / 2**20)
        r.check("ingest.build", self._check_ingest(index.n_docs, want["build"]))
        delta = self._docs(os.path.join(r.inputs, "delta"))
        meta = r.timed_setup("postings.append_to_index", append_to_index, spark, self.index_dir, delta)
        r.note("postings.append.delta_content_bytes", want["delta_content_bytes"])
        r.check("ingest.append", self._check_ingest(meta["n_docs"], want["append"]))

        # the query job: reopen the appended snapshot and warm it
        self.index = r.timed_setup("postings.read_index", read_index, spark, self.index_dir)
        r.timed_setup("bm25.warm_index", warm_index, self.index, warm_terms=p["warm_terms"])
        n = self.index.n_docs
        r.check("ingest.read", None if n == want["append"]["n_docs"] else f"reopened n_docs {n}")
        self.tokens_df = spark.read.parquet(os.path.join(r.inputs, "doc_tokens.parquet"))

    def _check_ingest(self, n_docs: int, want: dict) -> str | None:
        """n_docs and the sum of df (the manifest's per-bucket postings,
        as the build job reports them) must match the input."""
        with open(os.path.join(self.index_dir, "manifest.json")) as f:
            sum_df = sum(b["postings"] for b in json.load(f)["buckets"].values())
        errs = []
        if n_docs != want["n_docs"]:
            errs.append(f"n_docs {n_docs} != {want['n_docs']}")
        if sum_df != want["sum_df"]:
            errs.append(f"sum(df) {sum_df} != {want['sum_df']}")
        return "; ".join(errs) or None

    def ops(self) -> dict:
        def request(kind):
            return lambda c: self._search(kind, self.cycles[c % len(self.cycles)][kind])

        ops = {kind: request(kind) for kind in ("match", "bool", "needle", "match_phrase", "prefix")}
        ops["batch"] = lambda c: self._batch(self.cycles[c % len(self.cycles)]["batch"], prune=False)
        ops["batch_wand"] = lambda c: self._batch(self.cycles[c % len(self.cycles)]["batch"], prune=True)
        return ops

    # -- ops --------------------------------------------------------------

    def _cache_miss(self, terms) -> None:
        if terms:
            miss = sum(t not in self.index.term_cache for t in set(terms))
            self.r.note("bm25.term_lookups", len(set(terms)))
            self.r.note("bm25.term_misses", miss)

    def _search(self, kind: str, req: dict) -> None:
        from elasticsearch_approx_plugin_spark.plans.search import search_topk

        r = self.r

        def call():
            self._cache_miss(req["terms"])
            with r.tracer.span("search.search_topk") as s:
                df = search_topk(self.index, {**req["body"], "size": r.params["k"]}, tokens=self.tokens_df)
            r.note("search.search_topk_call_ms", s.wall * 1e3)
            with r.tracer.span("search.collect") as s:
                rows = df.collect()
            r.note("search.collect_ms", s.wall * 1e3)
            return rows

        def check(rows):
            got = [(int(x["doc_id"]), float(x["score"])) for x in sorted(rows, key=lambda x: x["rank"])]
            return _check_topk(got, req)

        r.op(kind, call, check)

    def _batch(self, req: dict, prune: bool) -> None:
        from elasticsearch_approx_plugin_spark.operators.bm25 import score_queries

        r = self.r
        kind = "batch_wand" if prune else "batch"
        layer = "bm25.wand" if prune else "bm25.batch"
        qs = [(qid, terms) for qid, terms in req["queries"]]

        def call():
            if not prune:
                self._exhaustive = None
            self._cache_miss([t for _, ts in qs for t in ts])
            stats = {} if (prune and r.tracer.enabled) else None
            with r.tracer.span("bm25.score_queries", prune=prune) as s:
                df = score_queries(self.index, qs, r.params["k"], prune=prune, stats=stats)
            r.note("bm25.score_queries_call_ms", s.wall * 1e3)
            with r.tracer.span(f"{layer}.collect") as s:
                rows = df.collect()
            r.note(f"{layer}.collect_s", s.wall)
            if stats:
                r.note("bm25.wand_ranges_total", stats["ranges_total"])
                r.note("bm25.wand_ranges_scored", stats["ranges_scored"])
            return rows

        def check(rows):
            got: dict[int, list] = {}
            for x in sorted(rows, key=lambda x: (x["query_id"], x["rank"])):
                got.setdefault(int(x["query_id"]), []).append((int(x["doc_id"]), float(x["score"])))
            if not prune:
                self._exhaustive = got
            elif got != self._exhaustive:
                return "WAND results differ from the exhaustive batch"
            for (qid, _), want in zip(qs, req["want"]):
                reason = _check_topk(got.get(qid, []), want)
                if reason:
                    return f"query {qid}: {reason}"
            return None

        r.op(kind, call, check)


def _check_topk(got: list, want: dict) -> str | None:
    return oracle.check_topk(got, [tuple(x) for x in want["top"]], {d: s for d, s in want["scores"]})


# -- facets ---------------------------------------------------------------


class FacetsWorkload:
    def __init__(self, run: Run):
        self.r = run
        self.term_set = set(run.expect["term_set"])

    def _bodies(self) -> dict:
        wl = self.r.wl
        th = wl["hybrid_exact_threshold"]
        return {
            "hybrid": {"date_facet": {"key_field": "ts", "distinct_field": "user", "interval": "hour", "exact_threshold": th}},
            "approx": {"date_facet": {"key_field": "ts", "distinct_field": "user", "interval": "hour", "exact_threshold": 0}},
            "exact_minute": {"date_facet": {"field": "ts", "distinct_field": "user", "interval": "minute", "exact_threshold": -1}},
            "sliced": {"date_facet": {"key_field": "ts", "slice_field": "slice", "interval": "hour"}},
            "term_list": {"term_list": {"key_field": "tokens", "max_per_shard": wl["term_list_max_per_shard"]}},
            "terms": {"terms": {"field": "tokens", "size": wl["terms_size"]}},
        }

    def setup(self) -> None:
        self.df = self.r.spark.read.parquet(os.path.join(self.r.inputs, "events"))

    def _request(self, kind: str):
        from elasticsearch_approx_plugin_spark.plans.request_parser import parse_request

        r = self.r
        body = {"query": {"match_all": {}}, "facets": {kind: self._bodies()[kind]}}
        with r.tracer.span("request_parser.parse_request") as s:
            spec = parse_request(body)[kind]
        r.note("request_parser.parse_request_ms", s.wall * 1e3)
        with r.tracer.span("facet_query.run", kind=kind) as s:
            df = spec.run(self.df)
        r.note("facet_query.run_call_ms", s.wall * 1e3)
        with r.tracer.span("facet.collect", kind=kind):
            return df.toPandas()

    def _check(self, kind: str, rows) -> str | None:
        wl, want = self.r.wl, self.r.expect
        if kind in ("hybrid", "approx", "exact_minute"):
            mode = {"hybrid": "hybrid", "approx": "approx", "exact_minute": "exact"}[kind]
            table = want["distinct_minute" if kind == "exact_minute" else "distinct_hour"]
            reason, st = oracle.check_distinct(rows, table, mode)
            if kind != "exact_minute":
                self.r.note("distinct_count.max_rel_err", st["max_rel_err"])
            if kind == "hybrid":
                self.r.note("distinct_count.tipped_bucket_share", st["tipped"] / max(st["buckets"], 1))
            return reason
        if kind == "sliced":
            return oracle.check_sliced(rows, want["sliced"])
        if kind == "term_list":
            return oracle.check_term_list(rows["term"].tolist(), self.term_set, wl["term_list_max_per_shard"])
        return oracle.check_terms_facet(rows, want["terms"], wl["terms_size"])

    def ops(self) -> dict:
        def make(kind):
            return lambda c: self.r.op(kind, lambda: self._request(kind), lambda rows: self._check(kind, rows))

        return {kind: make(kind) for kind in self.r.wl["cycle"]}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {"search": SearchWorkload, "facets": FacetsWorkload}
