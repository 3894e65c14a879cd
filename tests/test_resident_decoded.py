"""Resident postings are decoded once, when the snapshot loads: a warmed
driver-scored ``search()``/``search_many`` slices the snapshot's decoded
columns and runs no block or tail decoder, and phrase queries — which
still decode the resident ``pos_blob`` — rank as on the distributed path,
which decodes every row's blobs."""

import importlib

import numpy as np
import pytest

import lucene_spark.codecs as codecs
import lucene_spark.kernel as kernel
from lucene_spark.analysis import ENGLISH_STOP_WORDS
from lucene_spark.corpus import generate_pages
from lucene_spark.index import build_index
from lucene_spark.search import search, search_many

S = importlib.import_module("lucene_spark.search")  # the package exports search()


@pytest.fixture(scope="module")
def pdf():
    return generate_pages(500, seed=21)[["url", "text"]]


@pytest.fixture(scope="module")
def idx(spark, pdf):
    index = build_index(spark, spark.createDataFrame(pdf), seg_size=120, with_positions=True)
    index.postings = index.postings.persist()
    index.postings.count()
    assert index.resident_postings(S.LOCAL_SCORE_MAX_POSTINGS) is not None
    return index


@pytest.fixture(scope="module")
def phrases(pdf):
    """Adjacent word pairs and triples of the first documents, as phrase
    queries, plus a phrase OR a term."""
    out = []
    for text in pdf["text"][:6]:
        words = [w for w in text.split() if w not in ENGLISH_STOP_WORDS]
        out += [f'"{words[i]} {words[i + 1]}"' for i in (0, 3)]
        out.append(f'"{words[5]} {words[6]} {words[7]}"')
    out.append(f'{out[0]} OR {out[1].split()[0][1:]}')
    return out


def _same(a, b):
    assert a.docids.tolist() == b.docids.tolist()
    assert a.scores.tobytes() == b.scores.tobytes()


def test_warm_search_runs_no_posting_decoder(monkeypatch, idx, phrases):
    queries = {"or": "court OR science OR law", "and": "court AND planes",
               "not": "science NOT court", "phrase": phrases[0]}
    want_one = {q: search(idx, q, k=10) for q in queries.values()}
    want_many = search_many(idx, queries, k=10)

    def fail(*a, **kw):
        raise AssertionError("a posting decoder on the warmed resident path")

    for mod, name in ((codecs, "decode_postings"), (codecs, "decode_pfor"),
                      (codecs, "decode_for_delta"), (codecs, "decode_rows"),
                      (kernel, "decode_postings")):
        monkeypatch.setattr(mod, name, fail)
    for q, want in want_one.items():
        _same(search(idx, q, k=10), want)
    got = search_many(idx, queries, k=10)
    for qid in queries:
        _same(got[qid], want_many[qid])


@pytest.mark.parametrize("k", [3, 50])
def test_phrase_queries_match_the_distributed_path(monkeypatch, idx, phrases, k):
    resident = {q: search(idx, q, k=k) for q in phrases}
    many = search_many(idx, {str(i): q for i, q in enumerate(phrases)}, k=k)
    assert sum(len(td.docids) for td in resident.values()) > len(phrases)
    with monkeypatch.context() as m:
        m.setattr(S, "LOCAL_SCORE_MAX_POSTINGS", 0)
        for q, td in resident.items():
            _same(td, search(idx, q, k=k))
        dist = search_many(idx, {str(i): q for i, q in enumerate(phrases)}, k=k)
    for i, q in enumerate(phrases):
        _same(many[str(i)], dist[str(i)])
        _same(many[str(i)], resident[q])
        assert np.all(np.diff(resident[q].scores) <= 0)
