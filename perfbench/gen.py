"""Seeded input generator for the benchmark (vectorized numpy -> parquet).

Everything the program under test sees is made here from the workload
seed: the source-code corpus (the BASELINE ``input_hint`` columns plus
``content_sha``), the append delta and the events table.  The same seed
and generator version give the same bytes, so the raw inputs can be
cached on disk keyed by both; index builds are never cached (they are
the code under test).

Corpus vocabulary: a Zipf head of code-like identifiers plus a
long-tail identifier vocabulary (``v`` + hex) drawn nearly uniformly,
so the index dictionary is several times larger than ``warm_index``'s
200k-term cache.  Every token is a lowercase identifier that
``tokenize_code`` returns unchanged, which lets the oracles work from
the generated token lists directly.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2

LANGS = np.array(["py", "java", "c", "go", "js", "rs"])
_SYLLABLES = (
    "get set is make read write parse load init update build find to from add "
    "remove check run open close scan merge sort hash page node tree list map "
    "key val buf row col idx doc term query index file path lock cache"
).split()


def head_vocab(n: int) -> np.ndarray:
    """``n`` distinct code-like identifiers (letters and ``_`` only)."""
    s = _SYLLABLES
    words = [a for a in s]
    words += [f"{a}_{b}" for a in s for b in s if a != b]
    words += [f"{a}{b}_{c}" for a in s for b in s for c in s if len({a, b, c}) == 3]
    if len(words) < n:
        raise ValueError(f"head vocabulary supports at most {len(words)} words")
    return np.array(words[:n], dtype=object)


def tail_word(ids: np.ndarray) -> np.ndarray:
    """Long-tail identifiers ``v<hex>``: a letter then hex digits, so
    ``tokenize_code`` keeps each as one token."""
    return np.array([f"v{int(i):06x}" for i in ids], dtype=object)


def is_tail_word(t: str) -> bool:
    return len(t) == 7 and t[0] == "v" and all(c in "0123456789abcdef" for c in t[1:])


def zipf_ranks(rng: np.random.Generator, n: int, vocab: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, vocab + 1, dtype=np.float64), s)
    cum = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cum, rng.random(n), side="right"), vocab - 1)


def _list_array(values: np.ndarray, lengths: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(lengths.size + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, type=pa.string()))


def make_corpus(seed: int, stream: int, first_file: int, n_files: int, cfg: dict) -> pa.Table:
    """``n_files`` source files numbered from ``first_file``, drawn from
    random stream ``stream`` of the seed (0: the base corpus, 1: the
    append delta, whose files continue the numbering).

    Returns the parquet-ready table (file_id, repo, path, commit, lang,
    content, content_sha) plus the oracle-side ``tokens`` list column
    (the exact ``tokenize_code`` output of ``content``).  ``file_id`` is
    the source's dense file number, which the build uses as its doc id
    (the build job's ``--id-col``)."""
    rng = np.random.default_rng([seed, GEN_VERSION, stream])
    head = head_vocab(cfg["head_vocab"])
    n_head = rng.integers(cfg["doc_len_min"], cfg["doc_len_max"] + 1, n_files)
    n_tail = np.full(n_files, cfg["tail_per_doc"], dtype=np.int64)
    lengths = n_head + n_tail
    total = int(lengths.sum())
    starts = np.zeros(n_files + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    doc_of = np.repeat(np.arange(n_files), lengths)
    is_tail = (np.arange(total) - starts[doc_of]) >= n_head[doc_of]
    toks = np.empty(total, dtype=object)
    toks[~is_tail] = head[zipf_ranks(rng, int(n_head.sum()), head.size, cfg["zipf_s"])]
    toks[is_tail] = tail_word(rng.integers(0, cfg["tail_vocab"], int(n_tail.sum())))
    # shuffle within each file so tail identifiers sit among head tokens
    toks = toks[np.lexsort((rng.random(total), doc_of))]
    tokens = _list_array(toks, lengths)
    # separators: mostly spaces, some code punctuation and newlines; the
    # code tokenizer drops them all
    seps = np.array([" ", " ", " ", "(", ", ", ".", ");\n", " = ", "\n    "], dtype=object)
    sep = seps[rng.integers(0, seps.size, toks.size)]
    sep[starts[1:] - 1] = "\n"
    joined = pc.binary_join_element_wise(
        pa.array(toks, type=pa.string()), pa.array(sep, type=pa.string()), ""
    )
    content = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(starts.astype(np.int32)), joined), ""
    )
    ids = np.arange(first_file, first_file + n_files)
    lang = LANGS[rng.integers(0, LANGS.size, n_files)]
    repo = np.array([f"org{i % 37}/repo{i % 1009}" for i in ids], dtype=object)
    path = np.array([f"src/m{i % 97}/f{i}.{l}" for i, l in zip(ids, lang)], dtype=object)
    commit = np.array(
        [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in ids], dtype=object
    )
    sha = np.array(
        [hashlib.sha256(c.encode()).hexdigest() for c in content.to_pylist()], dtype=object
    )
    return pa.table(
        {
            "file_id": pa.array(ids, type=pa.int64()),
            "repo": pa.array(repo, type=pa.string()),
            "path": pa.array(path, type=pa.string()),
            "commit": pa.array(commit, type=pa.string()),
            "lang": pa.array(lang.astype(object), type=pa.string()),
            "content": content,
            "content_sha": pa.array(sha, type=pa.string()),
            "tokens": tokens,
        }
    )


def make_events(seed: int, cfg: dict) -> pa.Table:
    """Events (ts, user, slice, tokens): hourly traffic follows a
    diurnal curve, and so does each hour's active-user population, so
    the busiest hours exceed the hybrid facet's exact threshold and
    tip to HLL while the quiet ones stay exact."""
    rng = np.random.default_rng([seed, GEN_VERSION, 99])
    n, hours = cfg["n_events"], cfg["hours"]
    weight = 1.0 + 0.9 * np.sin(np.arange(hours) * (2 * np.pi / 24.0))
    weight /= weight.sum()
    hour = rng.choice(hours, size=n, p=weight)
    ts = (
        np.datetime64(cfg["start"], "s").astype(np.int64)
        + hour * 3600
        + rng.integers(0, 3600, n)
    )
    order = np.argsort(ts, kind="stable")
    ts, hour = ts[order], hour[order]
    # an hour's users come from a window of the population whose width
    # scales with that hour's traffic
    width = np.maximum((weight / weight.max() * cfg["users_per_peak_hour"]).astype(np.int64), 50)
    user = (hour * 7919 + rng.integers(0, width[hour])) % cfg["user_population"]
    slices = np.array([f"s{i}" for i in range(cfg["n_slices"])], dtype=object)
    sl = slices[zipf_ranks(rng, n, slices.size, 1.0)]
    n_tok = rng.integers(1, cfg["tags_max"] + 1, n)
    tags = head_vocab(cfg["tag_vocab"])[zipf_ranks(rng, int(n_tok.sum()), cfg["tag_vocab"], 1.1)]
    return pa.table(
        {
            "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            "user": pa.array(np.array([f"u{u}" for u in user], dtype=object), type=pa.string()),
            "slice": pa.array(sl, type=pa.string()),
            "tokens": _list_array(tags, n_tok),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
