"""Spark e2e for the positions channel: phrase queries through the full
pipeline (analyze → fused invert with positions → compressed segments →
distributed phrase kernel), plus boosts and MultiTermQuery expansion."""

import numpy as np
import pytest

from lucene_spark.index import build_index
from lucene_spark.search import expand_terms, match_any_docs, search
from lucene_spark.similarity import BM25Scorer, CollectionStats


CORPUS = [
    # url, text  — "the" is a stopword (position gap survives)
    ("u01", "the quick brown fox jumps over the lazy dog"),
    ("u02", "quick the brown fox"),          # quick@1? no: quick@0... 'the'@1 gap, brown@2
    ("u03", "brown quick fox"),
    ("u04", "a quick brown cat sat"),
    ("u05", "quick brown quick brown"),      # phrase freq 2
    ("u06", "wholly unrelated text here"),
    ("u07", "fox fox fox"),
    ("u08", "the brown the quick"),
]


@pytest.fixture(scope="module")
def pidx(spark):
    df = spark.createDataFrame(CORPUS, "url string, text string")
    idx = build_index(spark, df, seg_size=3, with_positions=True)
    idx.postings = idx.postings.persist()
    idx.termdict = idx.termdict.persist()
    idx.postings.count()
    return idx


def urls_of(idx, td):
    rows = idx.docs.collect()
    m = {r["docid"]: r["url"] for r in rows}
    return [m[int(d)] for d in td.docids]


def test_exact_phrase(pidx):
    td = search(pidx, '"quick brown"', k=10, precision="float64", prune=True)
    got = set(urls_of(pidx, td))
    # adjacent (post-analysis positions differ by exactly 1)
    assert got == {"u01", "u04", "u05"}


def test_phrase_freq_scoring(pidx):
    """u05 has the phrase twice — must outrank single-occurrence docs of the
    same length profile, and its score must equal the hand formula."""
    td = search(pidx, '"quick brown"', k=10, precision="float64", prune=True)
    urls = urls_of(pidx, td)
    assert urls[0] == "u05"
    stats = CollectionStats(pidx.doc_count, pidx.sum_total_term_freq)
    dfq = pidx.termdict.filter("term = 'quick'").collect()[0]["df"]
    dfb = pidx.termdict.filter("term = 'brown'").collect()[0]["df"]
    scorer = BM25Scorer.for_terms([dfq, dfb], stats, precision="float64")
    # u05: dl=4, phrase freq 2
    expect = float(scorer.score_from_dl(np.array([2]), np.array([4]))[0])
    assert td.scores[0] == pytest.approx(expect, abs=0)


def test_phrase_with_stopword_gap(pidx):
    """`"quick the brown"` analyzes to quick@0, brown@2 — matches only docs
    where brown sits two positions after quick (PhraseQuery position
    increments, QueryParserBase.java:437)."""
    td = search(pidx, '"quick the brown"', k=10, precision="float64", prune=True)
    got = set(urls_of(pidx, td))
    assert got == {"u02"}  # quick@0, brown@2 — only u02 has the 2-position gap


def test_phrase_prune_matches_exhaustive(pidx):
    a = search(pidx, '"quick brown"', k=5, precision="lucene", prune=True)
    b = search(pidx, '"quick brown"', k=5, precision="lucene", prune=False)
    np.testing.assert_array_equal(a.docids, b.docids)
    np.testing.assert_array_equal(a.scores, b.scores)


def test_single_term_phrase_rewrites(pidx):
    a = search(pidx, '"fox"', k=10, precision="float64")
    b = search(pidx, "fox", k=10, precision="float64")
    np.testing.assert_array_equal(a.docids, b.docids)
    np.testing.assert_array_equal(a.scores, b.scores)


def test_boost(pidx):
    plain = search(pidx, "quick fox", k=10, precision="float64", prune=False)
    boosted = search(pidx, "quick fox", k=10, precision="float64", prune=False,
                     boosts={"quick": 3.0})
    stats = CollectionStats(pidx.doc_count, pidx.sum_total_term_freq)
    # doc u07 (fox only) unchanged; docs with quick get 3x the quick part
    m_plain = dict(zip(plain.docids.tolist(), plain.scores.tolist()))
    m_boost = dict(zip(boosted.docids.tolist(), boosted.scores.tolist()))
    fox_only = [r["docid"] for r in pidx.docs.filter("url = 'u07'").collect()]
    assert m_boost[fox_only[0]] == pytest.approx(m_plain[fox_only[0]], abs=0)
    assert any(m_boost[d] > m_plain[d] for d in m_plain if d != fox_only[0])


@pytest.mark.parametrize("precision", ["lucene", "float64"])
@pytest.mark.parametrize("q", ['"quick brown"', '"quick the brown"', '"quick brown"~2',
                               '("quick brown") OR fox', "fox"])
def test_phrase_spark_vs_pandas_oracle(pidx, precision, q):
    """Full-pipeline duel incl. phrase/sloppy: Spark engine vs OracleIndex."""
    from lucene_spark.oracle import OracleIndex

    oracle = OracleIndex([u for u, _ in CORPUS], [t for _, t in CORPUS])
    got = search(pidx, q, k=10, precision=precision, prune=True)
    want = oracle.search(q, k=10, precision=precision)
    np.testing.assert_array_equal(got.docids, want["docid"].to_numpy(dtype=np.int64),
                                  err_msg=q)
    np.testing.assert_array_equal(got.scores, want["score"].to_numpy(), err_msg=q)


def test_explain_sums_to_search_score(pidx):
    from lucene_spark.search import explain

    td = search(pidx, "quick fox", k=1, precision="float64", prune=False)
    docid = int(td.docids[0])
    pdf = explain(pidx, "quick fox", docid, precision="float64")
    assert pdf["score"].sum() == pytest.approx(float(td.scores[0]), abs=1e-12)
    assert set(pdf["term"]) <= {"quick", "fox"}
    # lucene mode: float32 sum contract
    td32 = search(pidx, "quick fox", k=1, precision="lucene", prune=False)
    pdf32 = explain(pidx, "quick fox", int(td32.docids[0]), precision="lucene")
    got = np.float64(np.float32(sum(np.float64(s) for s in pdf32["score"])))
    assert got == td32.scores[0]


@pytest.mark.parametrize("q", ["qui*", "qu?ck OR fox", "b* AND fox", "fox^2 OR [a TO c]",
                               "quick OR qui*"])
def test_explain_multiterm_sums_to_search_score(pidx, q):
    """explain plans with search's own pipeline: a wildcard/prefix/range
    clause is constant-score, so it explains as one row worth its boost."""
    from lucene_spark.search import explain

    td = search(pidx, q, k=10, precision="float64", prune=False)
    assert len(td.docids)
    for docid, score in zip(td.docids.tolist(), td.scores.tolist()):
        pdf = explain(pidx, q, docid, precision="float64")
        assert pdf["score"].sum() == pytest.approx(score, abs=1e-12), (q, docid)


def test_explain_and_with_absent_term_is_empty(pidx):
    from lucene_spark.search import explain

    docid = int(search(pidx, "quick", k=1).docids[0])
    assert len(explain(pidx, "quick", docid)) == 1
    assert explain(pidx, "quick AND zzzabsent", docid).empty


def test_more_like_this(pidx):
    from lucene_spark.search import more_like_this, more_like_this_terms

    # seed doc u05: "quick brown quick brown" — tf=2 for both terms
    terms = more_like_this_terms(pidx, "quick brown quick brown",
                                 max_terms=2, min_term_freq=2, min_doc_freq=1)
    assert set(terms) == {"quick", "brown"}
    td = more_like_this(pidx, "quick brown quick brown", k=5, max_terms=2,
                        min_term_freq=2, min_doc_freq=1, precision="float64")
    want = search(pidx, "quick brown", k=5, precision="float64")
    np.testing.assert_array_equal(td.docids, want.docids)
    np.testing.assert_array_equal(td.scores, want.scores)


def test_delete_docs_tombstones(spark, pidx):
    full = search(pidx, "fox", k=10, precision="float64", with_urls=True)
    assert "u07" in full.urls
    dead_id = [r["docid"] for r in pidx.docs.filter("url = 'u07'").collect()]
    dead = spark.createDataFrame([(int(dead_id[0]),)], "docid long")
    idx2 = pidx.delete_docs(dead)
    after = search(idx2, "fox", k=10, precision="float64", with_urls=True)
    assert "u07" not in after.urls
    # surviving docs keep their scores (stats unchanged until merge)
    m_full = dict(zip(full.urls, full.scores.tolist()))
    for u, s in zip(after.urls, after.scores.tolist()):
        assert s == m_full[u]
    # original handle unaffected; deleting twice is idempotent
    assert "u07" in search(pidx, "fox", k=10, precision="float64", with_urls=True).urls
    idx3 = idx2.delete_docs(dead)
    np.testing.assert_array_equal(
        search(idx3, "fox", k=10, precision="float64").docids, after.docids
    )


def test_expand_and_match(pidx):
    terms = expand_terms(pidx, like="qu%")
    assert terms == ["quick"]
    docs = {r["docid"] for r in match_any_docs(pidx, ["quick", "cat"]).collect()}
    urls = {r["url"] for r in pidx.docs.filter(
        pidx.docs.docid.isin(list(docs))).collect()}
    assert urls == {"u01", "u02", "u03", "u04", "u05", "u08"}
    fuzzy = expand_terms(pidx, fuzzy=("quicc", 1))
    assert fuzzy == ["quick"]
    rng = expand_terms(pidx, lower="f", upper="g")
    assert rng == ["fox"]
