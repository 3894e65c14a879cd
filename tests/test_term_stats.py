"""Index-resident term statistics (``Index.term_stats``): every query entry
point reads df/cf from a once-loaded snapshot of the termdict, so a query
launches no Spark job for its term stats — and the snapshot agrees with the
termdict on every kind of handle.  Job counts are pinned on every scoring
path: distributed (2 per search() or search_many batch); for queries
within ``LOCAL_SCORE_MAX_POSTINGS``, driver-scored from the reader-resident
postings when the whole index is within the bound (0 each once loaded) or
from one collect when only the query is (1 each); and for count_hits,
sorted_topk and score_docs on a plain and a tombstoned handle, distributed
and (count_hits, sorted_topk) resident."""

import importlib
import itertools

import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import generate_pages
from lucene_spark.pulsing import pulse_index
from lucene_spark.index import (
    add_indexes, add_reversed_terms, build_index, build_multifield_index,
    read_index, split_index, write_index,
)
from lucene_spark.search import (
    count_hits, score_docs, search, search_many, sorted_topk, term_cfs, term_dfs,
)
from lucene_spark.streaming import refresh_reader, update_batch

S = importlib.import_module("lucene_spark.search")  # the package exports search()
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
    search(index, "court", k=5)  # warm: loads the snapshots once
    return index


QUERY = "court OR planes OR w00152"
BATCH = {"a": "court", "b": "planes AND court", "c": "w00152 OR w01420",
         "d": "court NOT planes", "e": ABSENT}


@pytest.fixture
def distributed(monkeypatch):
    """Force the distributed scoring path (the fixture's queries are small
    enough to be scored on the driver)."""
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", 0)


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_search_launches_two_jobs(spark, idx, similarity, distributed):
    assert _jobs(spark, lambda: search(idx, QUERY, k=5, similarity=similarity)) == 2


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_search_many_launches_two_jobs(spark, idx, similarity, distributed):
    assert _jobs(spark, lambda: search_many(idx, BATCH, k=5, similarity=similarity)) == 2


def _bound_between(monkeypatch, index, terms):
    """Admit queries over ``terms`` (Σ df) to the driver, but not the whole
    index: its postings are collected per query instead of resident."""
    want = sum(term_dfs(terms, index).values())
    assert want < int(index.term_stats().df.sum())
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", want)


BATCH_TERMS = ["court", "planes", "w00152", "w01420"]


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_small_search_launches_one_job(spark, idx, similarity, monkeypatch):
    _bound_between(monkeypatch, idx, ["court", "planes", "w00152"])
    assert _jobs(spark, lambda: search(idx, QUERY, k=5, similarity=similarity)) == 1


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_small_search_many_launches_one_job(spark, idx, similarity, monkeypatch):
    _bound_between(monkeypatch, idx, BATCH_TERMS)
    assert _jobs(spark, lambda: search_many(idx, BATCH, k=5, similarity=similarity)) == 1


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_resident_search_launches_no_job(spark, idx, similarity):
    assert idx.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is not None
    assert _jobs(spark, lambda: search(idx, QUERY, k=5, similarity=similarity)) == 0


@pytest.mark.parametrize("similarity", ["bm25", "lmd", "dfi_standardized"])
def test_resident_search_many_launches_no_job(spark, idx, similarity):
    assert _jobs(spark, lambda: search_many(idx, BATCH, k=5, similarity=similarity)) == 0


# --- the other entry points: count_hits, sorted_topk, score_docs ----------------


@pytest.fixture(scope="module")
def deleted(spark, idx):
    return idx.delete_docs(spark.range(0, 600, 7).withColumnRenamed("id", "docid"))


ENTRY_POINTS = {
    "count_hits": lambda h: count_hits(h, QUERY),
    "sorted_topk": lambda h: sorted_topk(h, "court", k=5),
    "sorted_topk_rounds": lambda h: sorted_topk(h, QUERY, k=200, probe_segments=1),
    "score_docs": lambda h: score_docs(h, QUERY).count(),
}


# distributed (plain, tombstoned) — the tombstoned handle adds the liveDocs
# mask's job to each distributed executor run; sorted_topk's segment list
# (a distinct scan off a non-resident index) is 2 more
@pytest.mark.parametrize("name, call, want", [
    ("count_hits", ENTRY_POINTS["count_hits"], (2, 3)),
    ("sorted_topk", ENTRY_POINTS["sorted_topk"], (4, 5)),
    ("sorted_topk_rounds", ENTRY_POINTS["sorted_topk_rounds"], (6, 8)),
    ("score_docs", ENTRY_POINTS["score_docs"], (3, 4)),
])
def test_other_entry_point_jobs(spark, idx, deleted, name, call, want, distributed):
    assert (_jobs(spark, lambda: call(idx)), _jobs(spark, lambda: call(deleted))) == want


@pytest.mark.parametrize("name", ["count_hits", "sorted_topk", "sorted_topk_rounds"])
def test_resident_count_and_sorted_topk_launch_no_job(spark, idx, deleted, name):
    assert idx.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is not None
    assert len(deleted.deleted_docids(S.LOCAL_SCORE_MAX_POSTINGS)) == 86  # warm: live docs
    call = ENTRY_POINTS[name]
    assert (_jobs(spark, lambda: call(idx)), _jobs(spark, lambda: call(deleted))) == (0, 0)


@pytest.fixture(scope="module")
def pulsed(idx):
    handle = pulse_index(idx)
    handle.pulsed = handle.pulsed.persist()
    handle.pulsed.count()
    # pulse_index hands the snapshots on; loads them if idx had none
    handle.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)
    return handle


PULSED_BATCH = {"a": "court", "b": "planes AND court", "c": "court NOT planes"}


def test_pulsed_query_without_singletons_launches_one_job(spark, pulsed, monkeypatch):
    """The sidecar holds only df == 1 terms, so a query without one must
    not look it up: the postings collect is its only job."""
    assert min(term_dfs(["court", "planes"], pulsed).values()) > 1
    _bound_between(monkeypatch, pulsed, ["court", "planes"])
    assert _jobs(spark, lambda: search(pulsed, "court", k=5)) == 1
    assert _jobs(spark, lambda: search_many(pulsed, PULSED_BATCH, k=5)) == 1


def test_resident_pulsed_query_without_singletons_launches_no_job(spark, pulsed):
    assert _jobs(spark, lambda: search(pulsed, "court", k=5)) == 0
    assert _jobs(spark, lambda: search_many(pulsed, PULSED_BATCH, k=5)) == 0


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


def test_handles_sharing_the_postings_share_the_snapshot(spark, small):
    bound = S.LOCAL_SCORE_MAX_POSTINGS
    snap = small.resident_postings(bound)
    assert snap is not None
    deleted = small.delete_docs(spark.range(0, 40).withColumnRenamed("id", "docid"))
    assert _jobs(spark, lambda: deleted.resident_postings(bound)) == 0
    assert deleted.resident_postings(bound) is snap
    assert add_reversed_terms(deleted).resident_postings(bound) is snap
    # the live docs are per handle: the tombstones differ
    assert deleted.deleted_docids(bound).tolist() == list(range(40))
    assert small.deleted_docids(bound).tolist() == []


def test_resident_postings_match_the_table(small):
    snap = small.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS)
    want = small.postings.select("term", "seg", "df_local").toPandas()
    got = snap.table.select(["term", "seg", "df_local"]).to_pandas()
    key = ["term", "seg"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True))
    terms = sorted(set(want["term"]))[::5] + [ABSENT]
    part = snap.rows(terms)
    assert sorted((r["term"], r["seg"]) for r in part) == sorted(
        zip(*[want[want["term"].isin(terms)][c] for c in key]))
    assert len(snap.rows([ABSENT])) == 0 and len(snap.rows([])) == 0


def test_resident_postings_follow_the_bound(small):
    total = int(small.term_stats().df.sum())
    assert small.resident_postings(total) is not None
    assert small.resident_postings(total - 1) is None


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
