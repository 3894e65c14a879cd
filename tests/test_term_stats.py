"""Index-resident term statistics (``Index.term_stats``): every query entry
point reads df/cf from a once-loaded snapshot of the termdict, so a query
launches no Spark job for its term stats — and the snapshot agrees with the
termdict on every kind of handle."""

import itertools

import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import generate_pages
from lucene_spark.index import (
    add_indexes, add_reversed_terms, build_index, build_multifield_index,
    read_index, split_index, write_index,
)
from lucene_spark.search import search, search_many, term_cfs, term_dfs
from lucene_spark.streaming import refresh_reader, update_batch

ABSENT = "zzzabsentterm"
_GROUPS = itertools.count()


def _pages(spark, n, seed, keys=None):
    pdf = generate_pages(n, seed=seed)[["url", "text"]]
    pdf["url"] = [f"https://t{seed}.example/{i}" for i in (keys or range(n))]
    return spark.createDataFrame(pdf)


def _jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"term_stats_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def idx(spark):
    index = build_index(spark, _pages(spark, 600, seed=3), seg_size=100)
    index.postings = index.postings.persist()
    index.termdict = index.termdict.persist()
    index.postings.count()
    search(index, "court", k=5)  # warm: loads the snapshot once
    return index


QUERY = "court OR planes OR w00152"
BATCH = {"a": "court", "b": "planes AND court", "c": "w00152 OR w01420",
         "d": "court NOT planes", "e": ABSENT}


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_search_launches_two_jobs(spark, idx, similarity):
    assert _jobs(spark, lambda: search(idx, QUERY, k=5, similarity=similarity)) == 2


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_search_many_launches_three_jobs(spark, idx, similarity):
    assert _jobs(spark, lambda: search_many(idx, BATCH, k=5, similarity=similarity)) == 3


def test_fixture_has_five_or_more_segments(idx):
    assert idx.postings.select("seg").distinct().count() >= 5


# --- parity with a direct termdict collect ------------------------------------


def _direct(termdict):
    return {r["term"]: (int(r["df"]), int(r["cf"]))
            for r in termdict.select("term", "df", "cf").collect()}


def _assert_parity(index):
    want = _direct(index.termdict)
    ts = index.term_stats()
    snap = dict(zip(ts.terms.tolist(), zip(ts.df.tolist(), ts.cf.tolist())))
    assert snap == want
    probe = sorted(want)[::7] + [ABSENT]
    assert term_dfs(probe, index) == {t: want[t][0] for t in probe if t in want}
    assert term_cfs(probe, index) == {t: want[t][1] for t in probe if t in want}
    assert ABSENT not in term_dfs(probe, index)
    return want


@pytest.fixture(scope="module")
def small(spark):
    return build_index(spark, _pages(spark, 250, seed=5), seg_size=64)


def test_parity_build_index(small):
    _assert_parity(small)


def test_parity_write_read_round_trip(spark, small, tmp_path):
    write_index(small, str(tmp_path / "idx"))
    assert _assert_parity(read_index(spark, str(tmp_path / "idx"))) == _direct(small.termdict)


def test_parity_add_indexes(spark, small):
    other = build_index(spark, _pages(spark, 120, seed=6), seg_size=64)
    _assert_parity(add_indexes(small, other))


def test_parity_split_index(small):
    a, b = split_index(small, at_seg=2)
    _assert_parity(a)
    _assert_parity(b)


def test_parity_delete_docs_keeps_stats(spark, small):
    deleted = small.delete_docs(spark.range(0, 40).withColumnRenamed("id", "docid"))
    assert _assert_parity(deleted) == _assert_parity(small)


def test_handles_sharing_the_termdict_share_the_snapshot(spark, small):
    snap = small.term_stats()
    deleted = small.delete_docs(spark.range(0, 40).withColumnRenamed("id", "docid"))
    assert deleted.term_stats() is snap  # handed on: no reload job
    assert add_reversed_terms(deleted).term_stats() is snap


def test_parity_multifield_index(spark):
    pdf = generate_pages(150, seed=7)[["url", "text"]]
    pdf["title"] = pdf["text"].str.split().str[:4].str.join(" ")
    mf = build_multifield_index(spark, spark.createDataFrame(pdf),
                                {"text": "text", "title": "title"}, seg_size=64)
    want = _assert_parity(mf)
    titles = [t for t in want if t.startswith("title:")]
    assert titles
    assert term_dfs(titles[:5], mf) == {t: want[t][0] for t in titles[:5]}


def test_parity_refresh_after_update_batch(spark, small, tmp_path):
    out = str(tmp_path / "live")
    write_index(small, out)
    before = _direct(read_index(spark, out).termdict)
    # 30 keys replace live docs (tombstones), 30 are new
    keys = list(range(30)) + list(range(250, 280))
    batch = _pages(spark, 60, seed=8, keys=keys).withColumn(
        "url", F.regexp_replace("url", "t8", "t5"))
    update_batch(spark, batch, out, seg_size=64)
    live = refresh_reader(spark, out)
    assert live.tombstones is not None
    assert _assert_parity(live) != before


def test_swapped_termdict_never_serves_old_stats(spark, small):
    handle = build_index(spark, _pages(spark, 80, seed=9), seg_size=64)
    old = handle.term_stats()
    term = old.terms[0]
    handle.termdict = handle.termdict.withColumn("df", F.col("df") + 1000)
    assert term_dfs([term], handle) == {term: int(old.df[0]) + 1000}
    assert handle.term_stats() is not old
    assert handle.term_stats() is handle.term_stats()
