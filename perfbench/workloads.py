"""The three workloads and their output checks.

Each workload is a list of named *items*, one pass of the workload.  An
item builds a DataFrame through the package's public functions and sends
it to a sink:

* ``mapreduce_jobs``: Job A (``read_text_dir`` -> ``word_count`` ->
  ``write_text``) and Job B (``read_int_lines`` -> ``distributed_sort``
  -> ``write_text``), exactly the CLI's path, writing real files.
* ``overhead_mix``: registered headline queries (``QuerySpec.fn``) on
  the sf0.01 fixture tables, each sent to the ``noop`` sink.
* ``curation_mix``: registered dedup, text and Python-worker queries on a
  larger documents/embeddings corpus made from the fixture's, each sent
  to the ``noop`` sink.

Checks run outside the timed region.  Registry queries are compared with
their DuckDB oracle twin by the canonical order-insensitive comparison
of ``tests/_oracle.py`` (rows-only where a query has no twin).  Job A's
lines must equal a DuckDB word count with the reference tokenizer, in
order; Job B's output must hold the input's multiset in global order.
"""

from __future__ import annotations

import glob
import os
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np

import gen

# Headline queries (bench.py HEADLINE) whose latency at sf0.01 is mostly
# fixed per-query cost: plan build, build-time probe jobs, job and stage
# scheduling, Python-worker round trips (pandas_udaf_rms_spend).
# dedup_embedding_lsh (19 jobs on 500 vectors) also keeps an approximate
# dedup operator, its exact audit leg and a tracked persist in this
# workload.
OVERHEAD_MIX = (
    "word_count",
    "distributed_sort_desc",
    "agg_tpch_q1",
    "join_shuffle_facts",
    "window_sliding_events",
    "pandas_udaf_rms_spend",
    "dedup_embedding_lsh",
)

# The curation queries: approximate and exact dedup, text statistics,
# BPE training, perplexity bucketing and a grouped pandas UDAF.
CURATION_MIX = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "split_leakage_audit",
    "dedup_embedding_lsh",
    "dedup_span_rebuild",
    "text_tfidf_top3",
    "text_bpe_train_merges",
    "text_perplexity_buckets",
    "pandas_udaf_rms_spend",
)


@dataclass
class Item:
    name: str
    build: Callable  # () -> DataFrame
    sink: Callable   # DataFrame -> None, the timed sink
    check: Callable  # DataFrame -> str | None: run and check (None = correct)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Base:
    name = ""
    input_kind = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir, self.cache_hit = gen.cached(
            ctx.cache_dir, self.input_kind, ctx.seed,
            gen.SIZES[ctx.size][self.input_kind])
        self.props = gen.props(self.dir)

    def operator_items(self, spark) -> list[Item]:
        """Bare operator calls timed on their own in traced runs."""
        return []


class _RegistryMix(_Base):
    queries: tuple[str, ...] = ()

    def items(self, spark, specs) -> list[Item]:
        oracle = _oracle_module(self.ctx.root)
        con = oracle.duck_connect(self.dir)

        def make(name):
            spec = specs[name]

            def check(df):
                if spec.oracle is None:  # no twin: rows-only check
                    return None if df.head(1) else "no rows"
                try:
                    oracle.compare(df, con, spec.oracle)
                except AssertionError as e:
                    return str(e)[:300]
                return None

            return Item(name, lambda: spec.fn(spark, self.dir), _noop, check)

        return [make(n) for n in self.queries]

    def operator_items(self, spark) -> list[Item]:
        """The approximate dedup operator inside each dedup query of the
        mix, called bare with the arguments the query passes; the rest of
        the query is the exact audit leg the oracle hashes."""
        from mapreduce_implementation_spark.operators.dedup import (
            embedding_near_dup_pairs_lsh, minhash_dedup_pairs, sign_lsh_params)
        from mapreduce_implementation_spark.sources.tables import load_table

        bits, tables = sign_lsh_params(self.props["rows"]["embeddings"], 0.35,
                                       target_bucket=50)
        ops = {
            "dedup_minhash_lsh": lambda: minhash_dedup_pairs(
                load_table(spark, self.dir, "documents"), "doc_id", "text",
                min_jaccard=0.5),
            "dedup_embedding_lsh": lambda: embedding_near_dup_pairs_lsh(
                load_table(spark, self.dir, "embeddings"), "vec_id", "embedding",
                dim=64, min_cosine=0.35, bits=bits, tables=tables),
        }
        return [Item(n, ops[n], _noop, None) for n in self.queries if n in ops]


class OverheadMix(_RegistryMix):
    name = "overhead_mix"
    input_kind = "tables"
    queries = OVERHEAD_MIX


class CurationMix(_RegistryMix):
    name = "curation_mix"
    input_kind = "curation"
    queries = CURATION_MIX


class MapReduceJobs(_Base):
    name = "mapreduce_jobs"
    input_kind = "mapreduce"

    def items(self, spark, specs) -> list[Item]:
        from pyspark.sql import functions as F

        from mapreduce_implementation_spark.operators.sort import distributed_sort
        from mapreduce_implementation_spark.operators.text import word_count
        from mapreduce_implementation_spark.sources.sinks import write_text
        from mapreduce_implementation_spark.sources.tables import (
            read_int_lines, read_text_dir)

        text_dir = os.path.join(self.dir, "text")
        int_dir = os.path.join(self.dir, "ints")
        out_a = os.path.join(self.ctx.work_dir, "out", "job_a")
        out_b = os.path.join(self.ctx.work_dir, "out", "job_b")

        def job_a():
            counts = word_count(read_text_dir(spark, text_dir))
            return counts.select(F.concat_ws(",", "word", "cnt").alias("value"))

        def job_b():
            df = read_int_lines(spark, int_dir)
            return distributed_sort(df, "n").select(
                F.col("n").cast("string").alias("value"))

        def write_a(df):
            write_text(df, out_a)

        def write_b(df):
            write_text(df, out_b)

        return [
            Item("job_a_wordcount", job_a, write_a,
                 lambda df: write_a(df) or check_word_count(text_dir, out_a)),
            Item("job_b_sort", job_b, write_b,
                 lambda df: write_b(df) or check_sort(int_dir, out_b)),
        ]

    def input_bytes(self) -> int:
        return self.props["text_bytes"] + self.props["int_bytes"]


WORKLOADS = {w.name: w for w in (MapReduceJobs, OverheadMix, CurationMix)}


def _oracle_module(root: str):
    tests = os.path.join(root, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import _oracle
    return _oracle


def _read_parts(out_dir: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def check_word_count(text_dir: str, out_dir: str) -> str | None:
    """Job A's ``word,cnt`` lines, in part order, must equal a DuckDB word
    count with the reference tokenizer (split on ASCII space, keep
    [A-Za-z], lowercase, drop empties), ordered cnt desc, word desc."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(f"""
            WITH lines AS (
              SELECT unnest(string_split(content, chr(10))) AS line
              FROM read_text('{text_dir}/*.txt')
            ), toks AS (
              SELECT lower(regexp_replace(unnest(string_split(line, ' ')),
                                          '[^A-Za-z]', '', 'g')) AS word
              FROM lines
            )
            SELECT word, count(*) AS cnt FROM toks WHERE word <> ''
            GROUP BY word ORDER BY cnt DESC, word DESC
        """).fetchall()
    finally:
        con.close()
    want = [f"{w},{c}" for w, c in rows]
    got = _read_parts(out_dir)
    if got == want:
        return None
    if len(got) != len(want):
        return f"job A: {len(got)} lines, oracle {len(want)}"
    i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return f"job A: line {i} is {got[i]!r}, oracle {want[i]!r}"


def check_sort(int_dir: str, out_dir: str) -> str | None:
    """Job B's output, in part order, must be the input multiset in
    ascending order (so also the same line count)."""
    src = []
    for f in sorted(glob.glob(os.path.join(int_dir, "*.txt"))):
        with open(f) as fh:
            src.append(np.array(fh.read().split(), dtype=np.int64))
    want = np.sort(np.concatenate(src))
    got = np.array(_read_parts(out_dir), dtype=np.int64)
    if len(got) != len(want):
        return f"job B: {len(got)} lines, input {len(want)}"
    if np.any(got[1:] < got[:-1]):
        return "job B: output is not globally ordered"
    if not np.array_equal(got, want):
        return "job B: output multiset differs from input"
    return None
