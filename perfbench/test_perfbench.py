"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import refs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SMALL = {**gen.CORPUS, "files": 3, "lines_per_file": 40, "vocab": 50}


# --- tail percentile ------------------------------------------------------


@pytest.mark.parametrize(
    "n, rank, pct",
    [(20, 10, 50.0), (30, 20, 100 * 20 / 30), (100, 90, 90.0), (1000, 990, 99.0)],
)
def test_tail_has_ten_samples_beyond_it(n, rank, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value, got_pct = stats.tail(samples)
    assert value == float(rank)
    assert got_pct == pytest.approx(pct)
    assert sum(s > value for s in samples) == 10


@pytest.mark.parametrize("n", [1, 5, 11, 19])
def test_tail_falls_back_to_the_median_below_twenty_samples(n):
    samples = [float(i) for i in range(n)]
    value, pct = stats.tail(samples)
    assert pct == 50.0
    assert value == pytest.approx((n - 1) / 2)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


def test_one_slow_pass_does_not_move_the_median_of_medians():
    quiet = {"cheap": [2.0, 2.1, 2.2], "middle": [2.6, 2.7, 2.8], "dear": [4.0, 4.1, 4.2]}
    assert stats.median_of_medians(quiet) == 2.7
    # the third pass ran 40% slow throughout
    slow = {k: v[:2] + [v[2] * 1.4] for k, v in quiet.items()}
    assert stats.median_of_medians(slow) == 2.7
    pooled = sorted(t for v in slow.values() for t in v)
    assert pooled[len(pooled) // 2] == pytest.approx(2.2 * 1.4)  # the pooled median moves
    # one pass: the median of the executions' times
    assert stats.median_of_medians({"a": [1.0], "b": [4.0], "c": [2.0]}) == 2.0


# --- CPU steal -------------------------------------------------------------


def test_steal_frac_is_the_stolen_share_of_all_cpu_time(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 50 800 10 0 5 35 7 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    before = stats.cpu_ticks(str(stat))
    assert before == [100, 0, 50, 800, 10, 0, 5, 35]
    after = [v + d for v, d in zip(before, [60, 0, 20, 100, 0, 0, 0, 20])]
    assert stats.steal_frac(before, after) == pytest.approx(20 / 200)
    assert stats.steal_frac(before, before) == 0.0


# --- failure accounting ---------------------------------------------------


def test_tally_counts_failures_against_attempts():
    t = stats.Tally()
    t.record("a", None)
    t.record("b", "b: wrong")
    t.record("c", None)
    t.record("d", "raised ValueError: x")
    assert (t.attempted, t.failed, t.correct) == (4, 2, 2)
    assert t.failed_frac == 0.5
    assert t.failures == ["b: b: wrong", "d: raised ValueError: x"]


def test_perturbed_wordcount_output_is_counted_as_a_failure():
    corpus = {"doc-0000.txt": ["Apple banana, apple.", "fig apple"]}
    right = [("apple", "3"), ("banana", "1"), ("fig", "1")]
    t = stats.Tally()
    want = refs.wordcount_ref(corpus)
    t.record("wordcount", refs.check_wordcount(right, want))
    perturbed = [("apple", "3"), ("banana", "2"), ("fig", "1")]
    t.record("wordcount", refs.check_wordcount(perturbed, want))
    assert (t.attempted, t.failed) == (2, 1)
    assert "banana" in t.failures[0]


def test_perturbed_query_output_is_counted_as_a_failure():
    dtypes = [("k", "string"), ("v", "bigint")]
    want_types = {"k": "str", "v": "int"}
    want = refs.canon([("a", 1), ("b", 2)], ["k", "v"])
    assert refs.compare_typed("q", dtypes, [("b", 2), ("a", 1)], want_types, want) is None
    assert "row 1" in refs.compare_typed("q", dtypes, [("a", 1), ("b", 3)], want_types, want)
    assert "rows" in refs.compare_typed("q", dtypes, [("a", 1)], want_types, want)
    # an integer column against a double one is a type mismatch
    assert "dtypes" in refs.compare_typed(
        "q", [("k", "string"), ("v", "double")], [("a", 1.0), ("b", 2.0)], want_types, want
    )


def test_postings_and_secondary_sort_checks():
    corpus = {"d1": ["b a", "a c"], "d2": ["c a"]}
    postings = refs.postings_ref(corpus)
    assert postings == {"a": ["d1", "d2"], "b": ["d1"], "c": ["d1", "d2"]}
    assert refs.check_postings(
        [("a", '["d1", "d2"]'), ("b", '["d1"]'), ("c", '["d1", "d2"]')], postings
    ) is None
    assert refs.check_postings(
        [("a", '["d1"]'), ("b", '["d1"]'), ("c", '["d1", "d2"]')], postings
    ) is not None
    records = refs.secondary_sort_ref(corpus)
    rows = [("a2e", "b a", '"d1"'), ("a2e", "a c", '"d1"'), ("a2e", "c a", '"d2"')]
    by_last = sorted(rows, key=lambda r: refs.last_word(r[1]))
    assert refs.check_secondary_sort([by_last], records) is None
    assert "not sorted" in refs.check_secondary_sort([by_last[::-1]], records)
    assert "multisets" in refs.check_secondary_sort([by_last[:2]], records)


# --- generator determinism ------------------------------------------------


def test_same_seed_same_corpus_other_seed_other_corpus(tmp_path):
    a = gen.content_hash(gen.write_corpus(7, tmp_path / "a", SMALL))
    b = gen.content_hash(gen.write_corpus(7, tmp_path / "b", SMALL))
    c = gen.content_hash(gen.write_corpus(8, tmp_path / "c", SMALL))
    assert a == b
    assert a != c
    lines = (tmp_path / "a" / "doc-0000.txt").read_text().splitlines()
    assert len(lines) == SMALL["lines_per_file"]
    assert all(refs.tokens(ln) for ln in lines)


# --- metric names ---------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "build.jobs", "jobs.pregel", "a-b_c.9", "9x"])
def test_valid_metric_names(name):
    assert stats.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_invalid_metric_names(name):
    assert not stats.valid_metric_name(name)


def test_benchmark_json_names_and_units_follow_the_grammar():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    assert all(stats.valid_metric_unit(m["unit"]) for m in BENCH["end_to_end"] + BENCH["per_layer"])
    assert not stats.valid_metric_unit("m s")


def test_layer_metrics_cover_every_per_layer_name():
    span = {"end": 2.0, "start": 1.0, "jobs": 3, "stages": 4, "cut_jobs": 1,
            "job_modules": {"pregel": 2, "other": 1}, "counts": {"executor.run_ms": 4000.0}}
    spans = [{**span, "kind": k} for k in ("build", "plan", "exec")]
    got = tracing.layer_metrics(spans, passes=1, cores=4, cached_peak=10.0)
    # added by run.py from the set-up and end-to-end measurements
    got.update({"engine.session_s": 0.0, "engine.warmup_s": 0.0, "peak_rss_mb": 0.0,
                "traced.query_p50_s": 0.0, "traced.setup_s": 0.0,
                "traced.queries_per_min": 0.0})
    assert {m["name"] for m in BENCH["per_layer"]} <= set(got)
    assert got["build.jobs"] == 3 and got["jobs.pregel"] == 6 and got["jobs.other"] == 3
    assert got["sched.ms_per_job"] == pytest.approx(1000 * 3 / 9)
    assert got["executor.busy_frac"] == pytest.approx(12 / (3 * 4))


# --- parsing Spark's status store ----------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("10,000", 10000),
        ("56.0 B", 56),
        ("1.5 KiB", 1536),
        ("14 ms", 14),
        ("2.5 s", 2500),
        ("total (min, med, max (stageId: taskId))\n10.3 s (2.5 s, 2.5 s, 2.7 s (stage 0.0: task 2))", 10300),
    ],
)
def test_parse_metric(text, value):
    assert tracing.parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize(
    "job, module",
    [
        ("localCheckpoint at remap_spark/operators/pregel.py:12", "pregel"),
        ("first at /x/remap_spark/operators/pregel.py:194", "pregel"),
        ("count at remap_spark/queries/graphs.py:3", "queries"),
        ("collect at remap_spark/functions/__init__.py:9", "functions"),
        ("save at benchmark", "other"),
        ("save at NativeMethodAccessorImpl.java:0", "other"),
    ],
)
def test_module_of(job, module):
    assert tracing.module_of(job) == module


def test_refs_imports_no_benchmark_module():
    # refs is pickled by value into Python workers, which cannot import
    # the benchmark's other modules
    assert not {"gen", "run", "stats", "tracing", "workloads"} & set(vars(refs))
