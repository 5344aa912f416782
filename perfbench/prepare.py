"""Benchmark-side preparation, in a process of its own.

    python3 perfbench/prepare.py --workload search --seed 1 --scale full --out DIR

Generates the workload's seeded inputs (``gen.py``) into ``DIR`` and
computes, from the generated data alone, the seeded request schedule
and every expected answer (``oracle.py``).  ``run.py`` starts this
before the program under test and waits for it, so the oracles' memory
and time never count in the program's metrics; the benchmark process
then holds only the compact ``expect.json``.  Outputs are
reused across runs, keyed by generator version, scale, seed and a
digest of the sizes and mixes they are made from.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def input_dir(root: str, seed: int, scale: str, workload: str) -> str:
    spec = load_spec()
    made_from = [spec["scales"][scale], spec["workloads"][workload], spec["shipped_job_params"]]
    digest = hashlib.sha1(json.dumps(made_from, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(root, f"g{gen.GEN_VERSION}-{scale}-s{seed}-{workload}-{digest}")


def _write_parts(table: pa.Table, path: str, n_parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_parts)
    for i in range(n_parts):
        gen.write_parquet(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


# -- search ---------------------------------------------------------------


class SearchSchedule:
    """The seeded request mix of the search workload, with the exact
    answer of every request computed by the numpy BM25 oracle over the
    base corpus plus the appended delta (requests are served after the
    append)."""

    def __init__(self, orc: oracle.Bm25Oracle, seed: int, head_vocab: int, wl: dict, k: int, warm_terms: int):
        self.orc, self.wl, self.k = orc, wl, k
        self.rng = np.random.default_rng([seed, gen.GEN_VERSION, 7])
        # needles: long-tail identifiers outside the warmed term cache
        # (all of them when the whole dictionary fits the cache)
        warm = orc.warm_set(warm_terms)
        tail = [t for t in orc.vocab if gen.is_tail_word(t)]
        self.needles = [t for t in tail if t not in warm] or tail
        head = gen.head_vocab(head_vocab)
        self.head = head[: wl["query_head"]]
        self.mid = head[wl["query_head"] : 4 * wl["query_head"]]

    def _head_terms(self, n: int) -> list[str]:
        """``n`` distinct Zipf-drawn terms of the query head."""
        out: list[str] = []
        while len(out) < n:
            t = str(self.head[gen.zipf_ranks(self.rng, 1, self.head.size, 1.0)[0]])
            if t not in out:
                out.append(t)
        return out

    def _search(self, query: dict, terms: list[str], answer) -> dict:
        return {"body": {"query": query}, "terms": terms, **oracle.expect_topk(answer)}

    def match(self) -> dict:
        terms = self._head_terms(self.wl["match_terms"])
        return self._search({"match": {"content": " ".join(terms)}}, terms, self.orc.topk(terms, self.k))

    def bool(self) -> dict:
        terms = self._head_terms(self.wl["bool_terms"])
        m = self.wl["bool_minimum_should_match"]
        query = {"bool": {"should": [{"term": {"content": t}} for t in terms], "minimum_should_match": m}}
        return self._search(query, terms, self.orc.topk(terms, self.k, msm=m))

    def needle(self) -> dict:
        term = self.needles[int(self.rng.integers(0, len(self.needles)))]
        return self._search({"match": {"content": term}}, [term], self.orc.topk([term], self.k))

    def match_phrase(self) -> dict:
        while True:  # a bigram of two head terms
            doc = self.orc.doc_tokens(int(self.rng.integers(0, self.orc.n_docs)))
            j = int(self.rng.integers(0, len(doc) - 1))
            ph = doc[j : j + 2]
            if not any(map(gen.is_tail_word, ph)):
                break
        return self._search({"match_phrase": {"content": " ".join(ph)}}, ph, self.orc.phrase_topk(ph, self.k))

    def prefix(self) -> dict:
        word = self.mid[int(self.rng.integers(0, self.mid.size))]
        pfx = word[: self.wl["prefix_len"]]
        answer = self.orc.topk(self.orc.prefix_terms(pfx), self.k)
        return self._search({"prefix": {"content": pfx}}, [], answer)

    def batch(self) -> dict:
        qs = [[i, self._head_terms(self.wl["match_terms"])] for i in range(self.wl["batch_queries"])]
        return {"queries": qs, "want": [oracle.expect_topk(self.orc.topk(t, self.k)) for _, t in qs]}

    def cycles(self, n: int) -> list[dict]:
        """``n`` cycles, one request of each kind of the mix; the
        WAND batch repeats the cycle's exhaustive batch."""
        kinds = [kind for kind in self.wl["cycle"] if kind != "batch_wand"]
        return [{kind: getattr(self, kind)() for kind in kinds} for _ in range(n)]


def prepare_search(d: str, seed: int, cfg: dict, wl: dict, params: dict) -> dict:
    c = cfg["corpus"]
    n_base = c["n_files"]
    n_delta = max(1, round(n_base * c["delta_share"]))
    base = gen.make_corpus(seed, 0, 0, n_base, c)
    delta = gen.make_corpus(seed, 1, n_base, n_delta, c)
    _write_parts(base.drop_columns(["tokens"]), os.path.join(d, "corpus"), c["n_parquet_files"])
    _write_parts(delta.drop_columns(["tokens"]), os.path.join(d, "delta"), 1)
    toks = pa.concat_tables([t.select(["file_id", "tokens"]) for t in (base, delta)]).combine_chunks()
    # the (doc_id, tokens) table match_phrase verifies positions against
    gen.write_parquet(toks.rename_columns(["doc_id", "tokens"]), os.path.join(d, "doc_tokens.parquet"))
    orc = oracle.Bm25Oracle(toks.column("file_id").to_numpy(), toks.column("tokens").chunk(0))
    sched = SearchSchedule(orc, seed, c["head_vocab"], wl, params["k"], params["warm_terms"])
    return {
        "ingest": {
            "build": {"n_docs": n_base, "sum_df": orc.n_postings(n_base)},
            "append": {"n_docs": orc.n_docs, "sum_df": orc.n_postings()},
            "delta_content_bytes": int(pc.sum(pc.binary_length(delta.column("content"))).as_py()),
        },
        "cycles": sched.cycles(wl["schedule_cycles"]),
    }


# -- facets ---------------------------------------------------------------


def prepare_facets(d: str, seed: int, cfg: dict) -> dict:
    e = cfg["events"]
    events = gen.make_events(seed, e)
    _write_parts(events, os.path.join(d, "events"), e["n_parquet_files"])
    ev = events.to_pandas()
    ev["ts_s"] = oracle.epoch_s(ev["ts"])
    ev["tokens"] = ev["tokens"].map(list)
    return oracle.facet_expectations(ev)


def prepare(root: str, seed: int, scale: str, workload: str) -> str:
    """Generate (or reuse) ``workload``'s inputs and expected answers;
    returns their directory."""
    spec = load_spec()
    cfg, wl = spec["scales"][scale], spec["workloads"][workload]
    d = input_dir(root, seed, scale, workload)
    out = os.path.join(d, "expect.json")
    if os.path.exists(out):
        return d
    os.makedirs(d, exist_ok=True)
    if workload == "search":
        expect = prepare_search(d, seed, cfg, wl, spec["shipped_job_params"])
    else:
        expect = prepare_facets(d, seed, cfg)
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expect, f)
    os.replace(tmp, out)
    return d


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--out", required=True, help="root directory of the prepared inputs")
    args = ap.parse_args()
    print(prepare(args.out, args.seed, args.scale, args.workload))


if __name__ == "__main__":
    main()
