"""Inputs of the benchmark workloads.

``overhead_mix`` reads the repository's sf0.01 fixture tables, copied
read-only into ``perfbench/fixtures/`` (sf0.001 for the smoke test); its
seed only permutes the order of the queries.  The other two workloads
get generated inputs.  Every generator is a pure function of ``(seed,
params)``: the same pair writes byte-identical files.  Outputs are cached
by that pair under the checkout's ``.perfbench/cache`` (git-ignored),
written to a temporary directory and renamed into place, so an
interrupted run never leaves a half-written entry behind.  Only the
newest ``_CACHE_KEEP`` entries are kept.

* ``mapreduce``: the inputs of the paper's two jobs.  Job A gets text
  lines in several files, drawn from a Zipf vocabulary with mixed case,
  punctuation, digits, apostrophes, hyphens, tabs and doubled spaces, so
  the reference tokenizer (split on ASCII space, keep ``[A-Za-z]``,
  lowercase, drop empties) does real work.  Job B gets integers uniform
  in [0, 2**30), drawn from a pool smaller than the count so duplicates
  are certain.
* ``curation``: the fixture's documents and embeddings, replicated and
  with a stated share of injected near-duplicates; the other tables are
  the fixture's.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
_CACHE_KEEP = 6

# Input sizes per workload size.  "full" is what the benchmark measures;
# "tiny" is what the smoke test runs.
SIZES = {
    "full": {
        "mapreduce": {"text_mb": 8, "text_files": 6, "vocab": 40_000,
                      "zipf_s": 1.1, "ints": 1_000_000, "int_files": 6,
                      "int_pool": 800_000},
        "tables": {"fixture": "sf0.01"},
        "curation": {"fixture": "sf0.01", "replicas": 2,
                     "near_dup_share": 0.02},
    },
    "tiny": {
        "mapreduce": {"text_mb": 2, "text_files": 3, "vocab": 5_000,
                      "zipf_s": 1.1, "ints": 100_000, "int_files": 3,
                      "int_pool": 80_000},
        "tables": {"fixture": "sf0.001"},
        "curation": {"fixture": "sf0.001", "replicas": 1,
                     "near_dup_share": 0.02},
    },
}


def fixture_dir(name: str) -> str:
    return os.path.join(FIXTURES, name)


def _key(kind: str, seed: int, params: dict) -> str:
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()
    return f"{kind}-s{seed}-{digest[:10]}"


def cached(cache_root: str, kind: str, seed: int, params: dict) -> tuple[str, bool]:
    """Return ``(dir, hit)`` for the inputs of ``kind`` at ``seed``,
    generating them on a miss.  ``tables`` is the fixture itself."""
    if kind == "tables":
        return fixture_dir(params["fixture"]), True
    path = os.path.join(cache_root, _key(kind, seed, params))
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, True
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = _GENERATORS[kind](tmp, np.random.default_rng(seed), params)
    with open(os.path.join(tmp, "_PROPS.json"), "w") as fh:
        json.dump(props, fh, indent=1, sort_keys=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _evict(cache_root)
    return path, False


def props(path: str) -> dict:
    """The stated properties of an input directory: the generator's
    ``_PROPS.json``, plus the row count of every table in it."""
    out = {}
    if os.path.exists(os.path.join(path, "_PROPS.json")):
        with open(os.path.join(path, "_PROPS.json")) as fh:
            out = json.load(fh)
    rows = {t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
            for t in TABLES if os.path.exists(os.path.join(path, f"{t}.parquet"))}
    if rows:
        out["rows"] = rows
    return out


def _evict(cache_root: str) -> None:
    entries = [os.path.join(cache_root, e) for e in os.listdir(cache_root)]
    entries = sorted((e for e in entries if os.path.isdir(e)),
                     key=os.path.getmtime, reverse=True)
    for stale in entries[_CACHE_KEEP:]:
        shutil.rmtree(stale, ignore_errors=True)


# ---------------------------------------------------------------- mapreduce

def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words.  The length of the word at each
    Zipf rank is fixed (3-12 letters, cycling), only its letters come
    from the seed, so the text's size and shape do not vary by seed."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = 3 + (np.arange(n) * 7) % 10
    words: list[str] = []
    seen: set[str] = set()
    for k in lens.tolist():
        while True:
            w = letters[rng.integers(0, 26, size=k)].tobytes().decode()
            if w not in seen:
                break
        seen.add(w)
        words.append(w)
    return np.array(words, dtype=object)


def _variants(words: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """Spellings a token may take, shape ``(len(words), 8)``.  The
    reference tokenizer maps every spelling back to the word: it drops
    case, punctuation, the apostrophe, digits and the hyphen."""
    w = words.tolist()
    mid = [x[: len(x) // 2] + "'" + x[len(x) // 2:] for x in w]
    num = rng.integers(0, 100, size=len(w))
    cols = [
        w,
        w,
        [x.capitalize() for x in w],
        [x.upper() for x in w],
        [x + "," for x in w],
        [x.capitalize() + "." for x in w],
        ['"' + x for x in mid],
        [f"{x}{k}-" for x, k in zip(w, num)],
    ]
    return np.array(cols, dtype=object).T


def _gen_mapreduce(out: str, rng: np.random.Generator, p: dict) -> dict:
    vocab = _vocabulary(rng, p["vocab"])
    variants = _variants(vocab, rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -p["zipf_s"])
    cdf /= cdf[-1]
    # separators: mostly one space, some line breaks, doubled spaces and
    # tabs (a tab is not a separator for the reference tokenizer)
    sep_vals = np.array([" ", "\n", "  ", "\t"], dtype=object)
    sep_p = [0.89, 0.08, 0.02, 0.01]
    var_p = [0.55, 0.2, 0.1, 0.03, 0.05, 0.03, 0.02, 0.02]
    # about 8 bytes a token with its separator
    n_tok = p["text_mb"] * 1_000_000 // p["text_files"] // 8
    text_dir = os.path.join(out, "text")
    os.makedirs(text_dir)
    text_bytes = 0
    for f in range(p["text_files"]):
        idx = np.searchsorted(cdf, rng.random(n_tok))
        var = rng.choice(len(var_p), size=n_tok, p=var_p)
        toks = variants[idx, var]
        # a few pure-number tokens, which the tokenizer drops entirely
        nums = rng.random(n_tok) < 0.02
        toks[nums] = rng.integers(0, 10_000, size=int(nums.sum())).astype(str)
        parts = np.empty(2 * n_tok, dtype=object)
        parts[0::2] = toks
        parts[1::2] = sep_vals[rng.choice(4, size=n_tok, p=sep_p)]
        body = "".join(parts.tolist()).rstrip() + "\n"
        data = body.encode("ascii")
        with open(os.path.join(text_dir, f"part{f:02d}.txt"), "wb") as fh:
            fh.write(data)
        text_bytes += len(data)

    int_dir = os.path.join(out, "ints")
    os.makedirs(int_dir)
    pool = rng.integers(0, 2 ** 30, size=p["int_pool"], dtype=np.int64)
    ints = pool[rng.integers(0, p["int_pool"], size=p["ints"])]
    int_bytes = 0
    for f, chunk in enumerate(np.array_split(ints, p["int_files"])):
        data = ("\n".join(map(str, chunk.tolist())) + "\n").encode("ascii")
        with open(os.path.join(int_dir, f"part{f:02d}.txt"), "wb") as fh:
            fh.write(data)
        int_bytes += len(data)
    return {"text_bytes": text_bytes, "text_files": p["text_files"],
            "vocabulary": len(vocab), "zipf_s": p["zipf_s"],
            "ints": int(len(ints)), "int_files": p["int_files"],
            "int_bytes": int_bytes, "int_range": [0, 2 ** 30],
            "distinct_ints": int(len(np.unique(ints)))}


# ----------------------------------------------------------------- curation

_REPLICA_ID_STEP = 100_000_000


def _gen_curation(out: str, rng: np.random.Generator, p: dict) -> dict:
    """The fixture's documents and embeddings, replicated ``replicas``
    times, plus a seeded share of injected near-duplicates.  Replicas are
    dedup-disjoint as in ``scripts/bench_scaling.py::build_sf1``: a
    letters-only tag prefixes every word of replica k >= 1 (dedup
    normalisers strip other characters, so a digit tag would vanish), and
    each replica's vectors get a seeded orthogonal map (permutation and
    sign flips) of the fixture's, so they are no closer to the originals
    than independent draws.  The relational tables are symlinks to the
    fixture's."""
    src = fixture_dir(p["fixture"])
    for name in TABLES:
        if name not in ("documents", "embeddings"):
            os.symlink(os.path.relpath(os.path.join(src, f"{name}.parquet"), out),
                       os.path.join(out, f"{name}.parquet"))

    docs = pq.read_table(os.path.join(src, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(src, "embeddings.parquet")).to_pydict()
    base_v = np.array(emb["embedding"], dtype=np.float64)
    cols = {k: [] for k in docs}
    vec_ids, vecs, labels = [], [], []
    for k in range(p["replicas"]):
        tag = "q" + "abcdefghij"[k] if k else ""
        cols["doc_id"] += [d + k * _REPLICA_ID_STEP for d in docs["doc_id"]]
        cols["text"] += [re.sub(r"([A-Za-z]+)", tag + r"\1", t) if k else t
                         for t in docs["text"]]
        cols["lang"] += docs["lang"]
        cols["source"] += docs["source"]
        vec_ids += [v + k * _REPLICA_ID_STEP for v in emb["vec_id"]]
        labels += emb["label"]
        if k:
            perm = rng.permutation(base_v.shape[1])
            signs = rng.choice([-1.0, 1.0], size=base_v.shape[1])
            vecs.append(base_v[:, perm] * signs)
        else:
            vecs.append(base_v)
    v = np.concatenate(vecs)

    # injected near-duplicates: another document's text plus " dup" (the
    # fixture's own scheme), and another vector plus 1% noise
    n_docs, n_vecs = len(cols["doc_id"]), len(v)
    texts = cols["text"]
    dup_docs = rng.choice(n_docs, size=round(n_docs * p["near_dup_share"]), replace=False)
    for i in dup_docs.tolist():
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    dup_vecs = rng.choice(n_vecs, size=round(n_vecs * p["near_dup_share"]), replace=False)
    for i in dup_vecs.tolist():
        j = int(rng.integers(0, n_vecs - 1))
        w = v[j + (j >= i)] + rng.normal(0.0, 0.01 / np.sqrt(v.shape[1]), v.shape[1])
        v[i] = w / np.linalg.norm(w)
    cols["n_chars"] = [len(t) for t in texts]

    pq.write_table(pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(cols["lang"]),
        "source": pa.array(cols["source"]),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    return {"fixture": p["fixture"], "replicas": p["replicas"],
            "documents": n_docs, "vectors": n_vecs,
            "near_dup_share": p["near_dup_share"],
            "injected_near_dup_docs": int(len(dup_docs)),
            "injected_near_dup_vectors": int(len(dup_vecs))}


_GENERATORS = {
    "mapreduce": _gen_mapreduce,
    "curation": _gen_curation,
}
