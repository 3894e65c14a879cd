"""Tests of the benchmark's own pieces; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import os
import textwrap

import pytest

from perfbench.summary import describe, highest_supported_percentile, percentile
from perfbench.tracing import CallSiteResolver, Span, self_time, union_length
from perfbench.workloads import BATCH_QUERIES, GROUP_PATTERN, GROUPS, LOG_SIZE, query_log


# --- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (39, None), (40, 75.0), (99, 75.0),
    (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_highest_percentile_keeps_ten_samples_beyond(n, want):
    assert highest_supported_percentile(n) == want


def test_describe_reports_count_median_and_supported_percentile():
    xs = list(range(1, 101))  # 1..100
    d = describe(xs)
    assert d == {"n": 100, "p50": 50.5, "p90": 90}
    assert sum(x > d["p90"] for x in xs) >= 10
    assert describe([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}


def test_percentile_is_nearest_rank():
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    assert percentile([5, 1, 4, 2, 3], 100) == 5
    assert percentile([7], 90) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


# --- span self time -------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([(3, 3), (4, 2)]) == 0  # empty and inverted intervals


def test_self_time_subtracts_covered_part_once():
    parent = Span("s0", "search.search", None, "q1", 10.0, 20.0)
    kids = [Span("a", "job:a", "s0", "q1", 11.0, 14.0),
            Span("b", "job:b", "s0", "q1", 13.0, 15.0),   # overlaps a
            Span("c", "job:c", "s0", "q1", 19.0, 25.0)]   # runs past the parent
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(10.0)


# --- call site -> engine function ---------------------------------------------------


@pytest.fixture
def engine(tmp_path):
    pkg = tmp_path / "lucene_spark"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "search.py").write_text(textwrap.dedent("""\
        import x


        def term_dfs(terms):
            return x.collect()


        class Searcher:
            def run(self):
                def inner():
                    return x.collect()
                return inner()


        def search(q):
            rows = x.filter(q)
            return rows.collect()
        """))
    (pkg / "sub" / "deep.py").write_text("def f():\n    return 1\n")
    return CallSiteResolver(str(pkg))


def test_resolver_names_the_enclosing_function(engine):
    root = engine.package_dir
    assert engine.resolve(f"collect at {root}/search.py:5") == "search.term_dfs"
    assert engine.resolve(f"collect at {root}/search.py:17") == "search.search"
    assert engine.resolve(f"collect at {root}/search.py:11") == "search.Searcher.run.inner"
    assert engine.resolve(f"collect at {root}/sub/deep.py:2") == "sub.deep.f"


def test_resolver_ignores_sites_outside_the_engine(engine):
    root = engine.package_dir
    assert engine.resolve(f"collect at {root}/search.py:1") is None  # module level
    assert engine.resolve("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") is None
    assert engine.resolve("count at <unknown>:0") is None
    assert engine.resolve("collect at /elsewhere/other_pkg/search.py:5") is None
    assert engine.resolve("collect at /elsewhere/lucene_spark/missing.py:5") is None


def test_resolver_survives_line_shifts(engine, tmp_path):
    path = os.path.join(engine.package_dir, "search.py")
    with open(path) as fh:
        src = fh.read()
    with open(path, "w") as fh:
        fh.write("# header\n# more\n" + src)
    shifted = CallSiteResolver(engine.package_dir)
    assert shifted.resolve(f"collect at {engine.package_dir}/search.py:7") == "search.term_dfs"


def test_resolver_on_the_real_engine():
    root = os.path.join(os.path.dirname(__file__), "..", "..", "lucene_spark")
    res = CallSiteResolver(root)
    with open(os.path.join(root, "search.py")) as fh:
        lines = fh.read().splitlines()
    line = next(i for i, s in enumerate(lines, 1) if s.startswith("def term_dfs("))
    assert res.resolve(f"collect at /any/checkout/lucene_spark/search.py:{line + 3}") \
        == "search.term_dfs"


# --- seeded query log ---------------------------------------------------------------


def test_query_log_is_a_function_of_the_seed():
    a, b = query_log(7), query_log(7)
    assert a == b
    assert len(a) == LOG_SIZE
    assert query_log(8) != a


def test_query_log_is_the_reference_set_plus_two_shapes():
    from lucene_spark.corpus import generate_queries

    log = query_log(3)
    ref = generate_queries(3)
    text = [q for _, q, _ in log]
    added = sorted(set(text) - set(ref["query"]))
    assert sorted(text) == sorted(list(ref["query"]) + added)
    assert len(added) == 2 * GROUPS
    assert sum(" NOT " in q for q in added) == GROUPS
    assert sum(q.startswith("(") and q.count(" AND ") == 2 for q in added) == GROUPS
    assert {k for _, _, k in log} == {10, 100}


def test_every_batch_has_the_same_shape_mix():
    assert LOG_SIZE == GROUPS * BATCH_QUERIES == len(query_log(5))
    text = [q for _, q, _ in query_log(5)]
    slots = {shape: [i for i, s in enumerate(GROUP_PATTERN) if s == shape]
             for shape in set(GROUP_PATTERN)}
    for g in range(GROUPS):
        batch = text[g * BATCH_QUERIES:(g + 1) * BATCH_QUERIES]
        assert [i for i, q in enumerate(batch) if " NOT " in q] == slots["not"]
        assert all(" AND " in batch[i] and " OR " not in batch[i] and "(" not in batch[i]
                   for i in slots["and"])
        assert all(" " not in batch[i] for i in slots["single"])
