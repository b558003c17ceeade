"""The benchmark's workloads. Each one is a list of named executions; an
execution is a build call into the program (it returns a DataFrame, and
may run driver-side jobs while doing so) plus an output check that runs
after the timed part.

The registry workload runs queries from ``remap_spark.queries`` on the
fixed fixture; ``--seed`` only permutes the order within each pass. The
generated workload writes its input from ``--seed`` before set-up starts.
"""

from __future__ import annotations

import itertools
import random
import sys
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import gen
import refs

WARM_LINES = 50


@dataclass
class Execution:
    name: str
    build: Callable[[], object]  # () -> DataFrame
    check: Callable[[object], str | None]  # DataFrame -> mismatch or None


@dataclass
class Workload:
    executions: list[Execution]
    warmup: list[Execution]
    inputs: dict  # what the run records about its input
    min_passes: int = 1  # a run measures at least this many whole passes

    def pass_order(self, seed: int, pass_no: int) -> list[Execution]:
        order = list(self.executions)
        random.Random(f"{seed}:{pass_no}").shuffle(order)
        return order


# --- fixpoint_small: registered Pregel queries on the sf0.1 fixture ---------

# Two of the fixture's fixpoint loops: dq16 runs the block-amortized
# flood fixpoint that ext_graph_sssp and connected_components share, dq40
# a Pregel program with a messages builder. The others are left out for
# the benchmark's time limit of 48 runs: a run with dq42_star_components
# took 80-115 s, and with dq17_pagerank and ext_graph_sssp a warm pass
# took ~18 s, which left room for one timed pass after a one-pass
# warm-up; its four samples spread past the bounds.
FIXPOINT_SMALL = "dq16_flood_max dq40_pointer_jump".split()
# Measured on 4 vCPUs, passes keep getting faster until about the sixth
# (JIT compilation of Spark's driver-side code): the first takes ~3.5x
# the time of the sixth and later ones, the next four 1.45x, 1.25x,
# 1.15x and 1.1x. Timing starts with the seventh.
FIXPOINT_WARM_PASSES = 6
FIXPOINT_PASSES = 5


def _query_execution(spark, name: str, fixture: str, oracle: refs.Oracle) -> Execution:
    from remap_spark.queries import ALL_QUERIES

    fn = ALL_QUERIES[name]

    def check(df) -> str | None:
        types, rows = oracle.answer(name)
        return refs.compare_typed(name, df.dtypes, df.collect(), types, rows)

    return Execution(name, lambda: fn(spark, fixture), check)


def sf_dir(spark) -> str:
    """The fixture directory the program itself defaults to
    (``SPARK_GRAFT_SF_DIR`` or the engine's sf0.1)."""
    from remap_spark.engine import Engine

    return Engine(spark).sf_dir


def fixpoint_small(spark) -> Workload:
    from remap_spark.queries import ALL_ORACLES

    missing = [q for q in FIXPOINT_SMALL if q not in ALL_ORACLES]
    if missing:
        raise KeyError(f"fixpoint_small: no DuckDB oracle for {missing}")
    fixture = sf_dir(spark)
    oracle = refs.Oracle(fixture, ALL_ORACLES)
    executions = [_query_execution(spark, q, fixture, oracle) for q in FIXPOINT_SMALL]
    return Workload(
        executions, executions * FIXPOINT_WARM_PASSES,
        {"sf_dir": fixture, "queries": FIXPOINT_SMALL},
        min_passes=FIXPOINT_PASSES,
    )


# --- mapreduce_text: the reference's programming model over generated text --


def wc_map(k1, v1):
    for w in refs.tokens(v1):
        yield refs.route(w), w, 1


def wc_combine(counts):
    return [sum(counts)]


def wc_reduce(k2, counts):
    yield k2, sum(counts)


def ii_map(k1, v1):
    doc = k1.rsplit("/", 1)[-1]
    for w in set(refs.tokens(v1)):
        yield refs.route(w), w, doc


def ii_combine(docs):
    return sorted(set(docs))


def ii_reduce(k2, docs):
    yield k2, sorted(set(docs))


def ss_map(k1, v1):
    toks = refs.tokens(v1)
    if toks:
        yield refs.route(toks[0]), v1, k1.rsplit("/", 1)[-1]


def corpus_path(seed: int, work_dir: Path) -> Path:
    c = gen.CORPUS
    return work_dir / f"corpus-{seed}-{c['files']}x{c['lines_per_file']}-v{c['vocab']}"


def prepare_inputs(workload: str, seed: int, work_dir: Path) -> None:
    """Generate a workload's seeded input, once per seed, before set-up:
    the corpus under ``full/`` and, under ``warmup/``, the first
    ``WARM_LINES`` lines of each of its files."""
    if workload == "mapreduce_text" and not corpus_path(seed, work_dir).exists():
        tmp = corpus_path(seed, work_dir).with_suffix(".partial")
        gen.write_corpus(seed, tmp / "full")
        (tmp / "warmup").mkdir()
        for f in sorted((tmp / "full").iterdir()):
            head = f.read_text().splitlines()[:WARM_LINES]
            (tmp / "warmup" / f.name).write_text("\n".join(head) + "\n")
        tmp.rename(corpus_path(seed, work_dir))


def mapreduce_text(spark, seed: int, work_dir: Path) -> Workload:
    from remap_spark.operators.mapreduce import MapReduceJob
    from remap_spark.sources.readers import read_text
    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    # map/reduce functions live in this module and in refs, which Python
    # workers cannot import: ship them by value
    cloudpickle.register_pickle_by_value(refs)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    corpus_dir = corpus_path(seed, work_dir) / "full"
    warm_dir = corpus_path(seed, work_dir) / "warmup"
    corpus = refs.read_corpus(corpus_dir)

    wordcount = MapReduceJob(map=wc_map, reduce=wc_reduce, combiner=wc_combine)
    index = MapReduceJob(map=ii_map, reduce=ii_reduce, combiner=ii_combine)
    secondary = MapReduceJob(map=ss_map, sort_key=refs.last_word)

    def jobs(text, corpus, suffix="") -> list[Execution]:
        want_wc = refs.wordcount_ref(corpus)
        want_ss = refs.secondary_sort_ref(corpus)
        want_ii = refs.postings_ref(corpus)

        def check_parts(df):
            rows = df.withColumn("_pid", F.spark_partition_id()).collect()
            parts = [
                [tuple(r)[:3] for r in grp]
                for _, grp in itertools.groupby(rows, key=lambda r: r["_pid"])
            ]
            return refs.check_secondary_sort(parts, want_ss)

        return [
            Execution(
                "wordcount" + suffix,
                lambda: wordcount.run(text(), "filename", "line"),
                lambda df: refs.check_wordcount(df.collect(), want_wc),
            ),
            Execution(
                "secondary_sort" + suffix,
                lambda: secondary.run_map_only(text(), "filename", "line"),
                check_parts,
            ),
            Execution(
                "inverted_index" + suffix,
                lambda: index.run(text(), "filename", "line"),
                lambda df: refs.check_postings(df.collect(), want_ii),
            ),
        ]

    # warm-up: the three jobs over the first lines of every file start as
    # many Python workers and compile the same plans as a pass, at a
    # fraction of its cost
    warmup = jobs(lambda: read_text(spark, str(warm_dir)), refs.read_corpus(warm_dir), "_warmup")
    executions = jobs(lambda: read_text(spark, str(corpus_dir)), corpus)
    lines = sum(len(v) for v in corpus.values())
    return Workload(
        executions,
        warmup,
        {
            "dir": str(corpus_dir),
            "params": gen.CORPUS,
            "files": len(corpus),
            "lines": lines,
            "words": sum(len(refs.tokens(ln)) for v in corpus.values() for ln in v),
            "bytes": sum((corpus_dir / f).stat().st_size for f in corpus),
            "content_sha256": gen.content_hash(corpus_dir),
        },
    )
