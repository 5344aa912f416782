"""The benchmark's own tests, at a tiny size.

    python3 -m pytest perfbench -q

The end-to-end tests start Spark (under a minute each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import gen
import layers
import oracle
import prepare
import run as bench
import workloads
from spans import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _manifest() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _spec() -> dict:
    with open(os.path.join(REPO, "perfbench", "workloads.json")) as f:
        return json.load(f)


# -- inputs ---------------------------------------------------------------


def _read(d: str, sub: str) -> bytes:
    with open(os.path.join(d, sub), "rb") as f:
        return f.read()


def test_same_seed_gives_identical_inputs(tmp_path):
    files = {
        "search": ["corpus/part-000.parquet", "delta/part-000.parquet", "doc_tokens.parquet", "expect.json"],
        "facets": ["events/part-000.parquet", "expect.json"],
    }
    for workload, subs in files.items():
        a, b, c = (prepare.prepare(str(tmp_path / x), seed, "tiny", workload) for x, seed in (("a", 5), ("b", 5), ("c", 6)))
        for sub in subs:
            assert _read(a, sub) == _read(b, sub)
            assert _read(a, sub) != _read(c, sub)


def test_corpus_tokens_are_what_the_code_tokenizer_returns():
    cfg = _spec()["scales"]["tiny"]["corpus"]
    t = gen.make_corpus(3, 0, 0, 50, cfg)
    for content, toks in zip(t.column("content").to_pylist(), t.column("tokens").to_pylist()):
        assert re.findall(r"[a-zA-Z_][a-zA-Z0-9_]*|[0-9]+", content.lower()) == toks
    assert len(set(t.column("content_sha").to_pylist())) == 50


# -- checks count tampered answers as failed operations ---------------------


def _run_stub() -> workloads.Run:
    spec = _spec()
    return workloads.Run(None, Tracer(False), spec["workloads"]["search"], spec["shipped_job_params"], "", {}, "")


def test_tampered_score_fails_and_counts_as_failed():
    docs = [["a", "b", "a"], ["b", "c"], ["a", "c", "c", "d"], ["d"]]
    orc = oracle.Bm25Oracle(np.array([10, 11, 12, 13]), docs)
    top, scores = orc.topk(["a", "c"], 10)
    assert oracle.check_topk(list(top), top, scores) is None
    tampered = [(top[0][0], top[0][1] + 0.01)] + top[1:]
    assert oracle.check_topk(tampered, top, scores) is not None
    swapped = [top[1], top[0]] + top[2:]
    assert oracle.check_topk(swapped, top, scores) is not None

    r = _run_stub()
    r.op("match", lambda: top, lambda got: oracle.check_topk(got, top, scores))
    r.op("match", lambda: tampered, lambda got: oracle.check_topk(got, top, scores))
    r.op("match", lambda: 1 / 0, lambda got: None)
    assert (r.attempted, r.failed) == (3, 2)
    assert len(r.latencies["match"]) == 2


def test_phrase_oracle_matches_adjacent_terms_within_one_doc():
    docs = [["a", "b", "c"], ["b", "a", "x"], ["c", "a"], ["b", "c", "a", "b"]]
    orc = oracle.Bm25Oracle(np.array([1, 2, 3, 4]), docs)
    top, scores = orc.phrase_topk(["a", "b"], 10)
    assert sorted(d for d, _ in top) == [1, 4]  # doc 3 ends in "a", doc 4 starts with "b"
    assert set(scores) == {1, 4}
    assert orc.phrase_topk(["b", "zz"], 10)[0] == []


def _events() -> pd.DataFrame:
    ts = np.array([0, 10, 3600, 3601, 3700, 7300])
    return pd.DataFrame({
        "ts": pd.to_datetime(ts, unit="s"), "ts_s": ts,
        "user": ["u1", "u2", "u1", "u1", "u3", "u2"],
        "slice": ["s0", "s1", "s0", "s0", "s1", "s0"],
        "tokens": [["x"], ["x", "y"], ["y"], ["z", "x"], ["x"], ["y", "y"]],
    })


def test_tampered_facet_count_fails_and_counts_as_failed():
    want = oracle.facet_expectations(_events())
    hours = pd.DataFrame(want["distinct_hour"], columns=["time", "count", "distinct"])
    rows = pd.DataFrame({
        "time": pd.to_datetime(hours["time"], unit="s"), "count": hours["count"],
        "distinct_count": hours["distinct"], "tipped": False,
    })
    assert oracle.check_distinct(rows, want["distinct_hour"], "hybrid")[0] is None
    bad = rows.assign(count=rows["count"] + [0, 1, 0])
    assert oracle.check_distinct(bad, want["distinct_hour"], "hybrid")[0] is not None
    off = rows.assign(distinct_count=rows["distinct_count"] * 2, tipped=True)
    assert oracle.check_distinct(off, want["distinct_hour"], "hybrid")[0] is not None

    sl = pd.DataFrame(want["sliced"], columns=["time", "term", "count"])
    srows = sl.assign(time=pd.to_datetime(sl["time"], unit="s"))
    assert oracle.check_sliced(srows, want["sliced"]) is None
    assert oracle.check_sliced(srows.assign(count=srows["count"] + 1), want["sliced"]) is not None

    terms = pd.DataFrame({"term": ["x", "y"], "count": [4, 3], "total": 8, "other": 1, "missing": 0})
    assert oracle.check_terms_facet(terms, want["terms"], 2) is None
    assert oracle.check_terms_facet(terms.assign(count=[4, 2]), want["terms"], 2) is not None

    r = _run_stub()
    r.op("hybrid", lambda: bad, lambda got: oracle.check_distinct(got, want["distinct_hour"], "hybrid")[0])
    assert (r.attempted, r.failed) == (1, 1)


# -- manifest ---------------------------------------------------------------


_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_manifest_matches_the_code():
    m, spec = _manifest(), _spec()
    assert set(m) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in m["workloads"]] == list(spec["workloads"])
    assert [e["name"] for e in m["end_to_end"]] == list(bench.end_to_end(_run_with_latency(), 1.0))
    assert {p["name"]: (p["unit"], p["better"]) for p in m["per_layer"]} == {
        k: (u, b) for k, (u, b, _, _) in layers.METRICS.items()
    }
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in m[k]]
    assert len(names) == len(set(names)) and all(_NAME.match(n) for n in names)
    assert all(0 < e["bound"] <= 0.25 for e in m["end_to_end"])
    assert max(m["end_to_end"], key=lambda e: e["bound"])["name"] == "setup_s"
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in m["workloads"])


_ORPHAN = """
import os, subprocess
import sysinfo
sysinfo.adopt_orphans()
subprocess.run(["sleep 300 & echo $!"], shell=True, stdout=open("pid", "w"))
sysinfo.capacity_probe(2, n_iter=1000)
assert sysinfo.descendants(os.getpid()), "the orphan was not adopted"
sysinfo.end_descendants()
assert not sysinfo.descendants(os.getpid())
"""


def test_no_process_outlives_the_run(tmp_path):
    out = subprocess.run([sys.executable, "-c", _ORPHAN], cwd=tmp_path, capture_output=True, text=True,
                         timeout=60, env={**os.environ, "PYTHONPATH": os.path.join(REPO, "perfbench")})
    assert out.returncode == 0, out.stderr
    pid = int((tmp_path / "pid").read_text())
    assert not os.path.exists(f"/proc/{pid}")


def _run_with_latency() -> workloads.Run:
    r = _run_stub()
    r.latencies = {"match": [0.1], "bool": [0.2]}
    return r


# -- end to end, tiny ---------------------------------------------------------


@pytest.mark.parametrize("workload", ["search", "facets"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = _manifest()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {e["name"]: e["unit"] for e in want}
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
