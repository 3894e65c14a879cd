"""search_many (batched multi-query execution) must be result-identical to
query-at-a-time search — same contract, one Spark job."""

import importlib

import numpy as np
import pytest

from lucene_spark.index import build_index
from lucene_spark.search import search, search_many


CORPUS = [
    (f"u{i:02d}", txt)
    for i, txt in enumerate(
        [
            "spark index merge segment block",
            "merge sort spark spark batch",
            "block max wand scan prune",
            "the quick brown fox",
            "quick brown spark segment",
            "wand scan merge block spark",
            "batch batch batch spark",
            "segment merge index scan",
            "prune wand block max spark batch",
            "fox brown quick the",
        ]
    )
]

QUERIES = {
    "q_term": "spark",
    "q_or": "merge block",
    "q_and": "spark AND batch",
    "q_mixed": "(wand AND scan) OR fox",
    "q_not": "spark NOT batch",
    "q_phrase": '"quick brown"',
    "q_missing": "zebra",
    "q_and_missing": "spark AND zebra",
}


@pytest.fixture(scope="module")
def midx(spark):
    df = spark.createDataFrame(CORPUS, "url string, text string")
    idx = build_index(spark, df, seg_size=4, with_positions=True)
    idx.postings = idx.postings.persist()
    idx.termdict = idx.termdict.persist()
    idx.postings.count()
    return idx


@pytest.mark.parametrize("precision", ["lucene", "float64"])
def test_batched_equals_individual(midx, precision):
    batched = search_many(midx, QUERIES, k=5, precision=precision, prune=True)
    for qid, q in QUERIES.items():
        single = search(midx, q, k=5, precision=precision, prune=True)
        np.testing.assert_array_equal(
            batched[qid].docids, single.docids, err_msg=qid
        )
        np.testing.assert_array_equal(
            batched[qid].scores, single.scores, err_msg=qid
        )


def test_per_query_k(midx):
    out = search_many(midx, {"a": "spark", "b": "spark"}, k=10, ks={"b": 2})
    assert len(out["a"].docids) > 2
    assert len(out["b"].docids) == 2
    np.testing.assert_array_equal(out["a"].docids[:2], out["b"].docids)


def test_all_unknown_queries(midx):
    out = search_many(midx, {"x": "zebra", "y": "qqq AND zzz"}, k=5)
    assert len(out["x"].docids) == 0 and len(out["y"].docids) == 0


@pytest.mark.parametrize("bound", [None, 0])
def test_or_with_dropped_phrase_keeps_surviving_and(midx, monkeypatch, bound):
    # the phrase has a member absent from the index, so the OR collapses to
    # its AND clause; the AND must not be judged against the phrase's terms
    S = importlib.import_module("lucene_spark.search")  # the package exports search()
    if bound is not None:
        monkeypatch.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", bound)
    q = '(spark AND batch) OR "spark zebra"'
    want = search(midx, "spark AND batch", k=10)
    assert len(want.docids) > 0
    single = search(midx, q, k=10)
    batched = search_many(midx, {"q": q, "t": "fox"}, k=10)["q"]
    for got in (single, batched):
        np.testing.assert_array_equal(got.docids, want.docids)
        np.testing.assert_array_equal(got.scores, want.scores)
