"""Phrase queries over tombstones: every query entry point drops a deleted
doc's postings AND its positions (the positions mask repeats the postings
mask per freq), so count_hits, score_docs, sorted_topk, search and
search_many agree with an exhaustive search() and never return a dead
docid — on the driver path too, where the reader-resident live docs deny
each segment's tombstones, bit-identical to the distributed path."""

import importlib
import itertools

import numpy as np
import pytest

from lucene_spark.index import build_index
from lucene_spark.search import count_hits, score_docs, search, search_many, sorted_topk

S = importlib.import_module("lucene_spark.search")  # the package exports search()
_GROUPS = itertools.count()
N = 160
FILLER = ["orchard", "basket", "market", "farmer", "season", "harvest"]
QUERIES = ['"red apple"', '"red apple"~1', '"red apple" pear']


def _text(i: int, rng) -> str:
    # the phrase "red apple" occurs only in docs i % 3 == 0; other docs hold
    # both terms out of order or apart.  Extra, non-adjacent occurrences
    # vary each doc's freqs, so a positions array cut by the wrong mask
    # would misalign with its postings.
    core = (["red", "apple"], ["apple", "red"], ["red", "pear", "apple"])[i % 3]
    extra = ["red", "farmer"] * (i % 4) + ["season", "apple"] * (i % 5)
    words = list(rng.choice(FILLER, size=6))
    return " ".join(words[:3] + core + words[3:] + extra)


@pytest.fixture(scope="module")
def live(spark):
    rng = np.random.default_rng(11)
    pages = spark.createDataFrame(
        [(f"u{i}", _text(i, rng)) for i in range(N)], "url string, text string")
    idx = build_index(spark, pages, with_positions=True, seg_size=32)
    docid = {r["url"]: r["docid"] for r in idx.docs.select("url", "docid").collect()}
    dead = {docid[f"u{i}"] for i in range(N) if i % 6 == 0 or i % 5 == 1}
    deleted = idx.delete_docs(
        spark.createDataFrame([(d,) for d in sorted(dead)], "docid long"))
    phrase_docs = {docid[f"u{i}"] for i in range(N) if i % 3 == 0}
    return idx, deleted, dead, phrase_docs


def _exhaustive(index, q):
    return search(index, q, k=10**6, prune=False)


def test_exact_phrase_matches_the_live_phrase_docs(live):
    idx, deleted, dead, phrase_docs = live
    assert set(_exhaustive(idx, '"red apple"').docids.tolist()) == phrase_docs
    assert set(_exhaustive(deleted, '"red apple"').docids.tolist()) == phrase_docs - dead
    assert phrase_docs & dead and phrase_docs - dead


@pytest.mark.parametrize("q", QUERIES)
def test_match_set_entry_points_agree(live, q):
    idx, deleted, dead, _ = live
    full = _exhaustive(deleted, q)
    want = set(full.docids.tolist())
    assert want and not want & dead
    assert want == set(_exhaustive(idx, q).docids.tolist()) - dead
    assert count_hits(deleted, q) == len(want)
    scored = score_docs(deleted, q).toPandas()
    assert len(scored) == len(want)
    assert dict(zip(scored["docid"], scored["score"])) == dict(
        zip(full.docids.tolist(), full.scores.tolist()))
    assert sorted_topk(deleted, q, k=10**6).tolist() == sorted(want)
    assert sorted_topk(deleted, q, k=10**6, ascending=False).tolist() == sorted(want)[::-1]


@pytest.mark.parametrize("bound", [None, 0])
@pytest.mark.parametrize("q", QUERIES)
def test_topk_entry_points_agree(live, monkeypatch, q, bound):
    _, deleted, dead, _ = live
    if bound is not None:
        monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", bound)
    full = _exhaustive(deleted, q)
    for td in (search(deleted, q, k=10), search_many(deleted, {"q": q}, k=10)["q"]):
        assert td.docids.tolist() == full.docids[:10].tolist()
        assert td.scores.tolist() == full.scores[:10].tolist()
        assert not set(td.docids.tolist()) & dead


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"live_docs_mask_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("q", QUERIES)
def test_driver_path_matches_distributed_path(spark, live, monkeypatch, q):
    _, deleted, dead, _ = live
    bound = S.LOCAL_SCORE_MAX_POSTINGS
    assert deleted.resident_postings(bound) is not None
    assert deleted.deleted_docids(bound).tolist() == sorted(dead)
    td, jobs = _jobs(spark, lambda: search(deleted, q, k=50, prune=False))
    many, mjobs = _jobs(spark, lambda: search_many(deleted, {"q": q}, k=50)["q"])
    assert (jobs, mjobs) == (0, 0)
    monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", 0)
    want = search(deleted, q, k=50, prune=False)
    for got in (td, many):
        assert got.docids.tolist() == want.docids.tolist()
        assert got.scores.tobytes() == want.scores.tobytes()
    assert len(want.docids) and not set(want.docids.tolist()) & dead
