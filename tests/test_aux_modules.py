"""monitor (percolator) / suggest / highlight / classify module tests."""

import pytest

from lucene_spark.classify import classify_knn
from lucene_spark.highlight import highlight
from lucene_spark.index import build_index
from lucene_spark.monitor import StoredQuery, match_documents
from lucene_spark.suggest import suggest_fuzzy, suggest_terms


CORPUS = [
    (0, "spark streaming window agg", "en"),
    (1, "spark batch join", "en"),
    (2, "window join the agg", "de"),
    (3, "totally unrelated words here", "fr"),
    (4, "spark spark spark window", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def aidx(spark, docs):
    idx = build_index(spark, docs, text_col="text", key_col="doc_id", docid_col="doc_id")
    idx.postings = idx.postings.persist()
    idx.termdict = idx.termdict.persist()
    idx.postings.count()
    return idx


def test_monitor_matches(spark, docs):
    out = match_documents(
        spark, docs,
        [
            StoredQuery("all_sw", "spark window", mode="all"),
            StoredQuery("any_sw", "spark window", mode="any"),
            StoredQuery("stop_only", "the and", mode="any"),  # analyzes away
        ],
    )
    got = {(r["qid"], r["doc_id"]) for r in out.collect()}
    assert {(q, d) for q, d in got if q == "all_sw"} == {("all_sw", 0), ("all_sw", 4)}
    assert {d for q, d in got if q == "any_sw"} == {0, 1, 2, 4}
    assert not any(q == "stop_only" for q, _ in got)


def test_suggest(aidx):
    rows = suggest_terms(aidx, "sp", 5).collect()
    assert rows[0]["term"] == "spark" and rows[0]["cf"] == 5
    fz = suggest_fuzzy(aidx, "spork", 1, 3).collect()
    assert fz[0]["term"] == "spark"


def test_highlight(spark, docs):
    out = highlight(docs, ["spark", "window"], window=3)
    snips = {r["doc_id"]: r["snippet"] for r in out.collect()}
    assert 3 not in snips  # no query terms
    assert "**spark**" in snips[0] or "**window**" in snips[0]
    assert snips[4].count("**") >= 4  # dense hits window


def test_classify(aidx, docs):
    out = classify_knn(aidx, "spark window", docs.select("doc_id", "lang"), k=3,
                       precision="float64").collect()
    assert len(out) == 1
    assert out[0]["label"] == "en"


def test_classify_naive_bayes(aidx, docs):
    """Duel vs an independent pure-Python NB twin of
    SimpleNaiveBayesClassifier.java:49 on the module corpus."""
    import math

    from lucene_spark.analysis import analyze
    from lucene_spark.classify import classify_naive_bayes

    text = "spark window"
    out = classify_naive_bayes(aidx, text, docs.select("doc_id", "lang")).collect()

    toks = [analyze(t) for _, t, _ in CORPUS]
    labels = [l for _, _, l in CORPUS]
    dall = len(CORPUS)
    sum_df = len({(i, w) for i, ts in enumerate(toks) for w in ts})
    au = sum_df / dall
    q = analyze(text)
    want = {}
    for c in sorted(set(labels)):
        dwc = labels.count(c)
        s = math.log(dwc) - math.log(dall)
        for w in q:
            hits = sum(1 for i, ts in enumerate(toks) if labels[i] == c and w in ts)
            s += math.log((hits + 1) / (au * dwc + dall))
        want[c] = s
    got = {r["label"]: r["score"] for r in out}
    assert set(got) == set(want)
    for c in want:
        assert abs(got[c] - want[c]) < 1e-12, c
    # ranking: 'en' docs dominate spark+window
    assert out[0]["label"] == "en"
    # normalized variant is a probability distribution with the same argmax
    norm = classify_naive_bayes(
        aidx, text, docs.select("doc_id", "lang"), normalize=True
    ).collect()
    assert norm[0]["label"] == "en"
    assert abs(sum(r["score"] for r in norm) - 1.0) < 1e-12
    assert all(0.0 <= r["score"] <= 1.0 for r in norm)


def test_direct_spell_checker(spark):
    """DirectSpellChecker.java:292-468 semantics: gates, prefix, Damerau
    scoring 1 - ed/min(|cand|,|query|), order (score desc, df desc, term)."""
    from lucene_spark.suggest import direct_spell_suggest

    corpus = [
        (0, "spark sparks spars stark apple", "en"),
        (1, "spark sparks space", "en"),
        (2, "spark rapks sprak", "en"),
        (3, "banana apple cherry", "en"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string, lang string")
    idx = build_index(spark, docs, text_col="text", key_col="doc_id",
                      docid_col="doc_id")

    # "spakr" (transposed tail): spark is 1 Damerau edit -> score 0.8
    out = direct_spell_suggest(idx, "spakr", num_sug=5,
                               max_query_frequency=1e9)
    rows = [(r.term, r.df, round(float(r.score), 4)) for r in out.collect()]
    assert rows, "expected suggestions"
    assert rows[0][0] == "spark" and rows[0][2] == pytest.approx(0.8)
    # every candidate shares the min_prefix=1 first char and is within 2
    # Damerau edits
    from lucene_spark.search import damerau_levenshtein
    for t, df, sc in rows:
        assert t.startswith("s")
        ed = damerau_levenshtein(t, "spakr", 2)
        assert ed <= 2
        assert sc == pytest.approx(1.0 - ed / min(len(t), 5), abs=1e-6)
    # ordering: score desc, df desc, term asc
    keys = [(-sc, -df, t) for t, df, sc in rows]
    assert keys == sorted(keys)

    # query term indexed -> empty under SUGGEST_WHEN_NOT_IN_INDEX
    assert direct_spell_suggest(idx, "spark").count() == 0
    assert direct_spell_suggest(
        idx, "spark", suggest_when_in_index=True,
        max_query_frequency=1e9).count() > 0
    # min_query_length gate (default 4)
    assert direct_spell_suggest(idx, "spa").count() == 0
    # maxQueryFrequency: "spark" df=3 of maxDoc=4 > ceil(0.01*4)=1 -> empty
    # even when suggesting for indexed terms
    assert direct_spell_suggest(idx, "spark",
                                suggest_when_in_index=True).count() == 0
    # accuracy gate: raising accuracy above 0.8 drops the ed=1 5-char match
    hi = direct_spell_suggest(idx, "spakr", accuracy=0.85,
                              max_query_frequency=1e9)
    assert all(r.score >= 0.85 for r in hi.collect())
    with pytest.raises(ValueError):
        direct_spell_suggest(idx, "spakr", max_edits=3)


def test_query_time_join_score_modes(spark):
    """JoinUtil.createJoinQuery score modes (JoinUtil.java:56,
    TermsWithScoreCollector.java:36-120): per-from-value aggregate applied
    to every to-doc carrying the value; None -> constant 1.0."""
    from lucene_spark.joins import query_time_join
    from lucene_spark.search import score_docs

    corpus = [
        (0, "spark window join", "en"),
        (1, "spark spark window", "en"),
        (2, "window spark", "de"),
        (3, "nothing relevant", "fr"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string, lang string")
    idx = build_index(spark, docs, text_col="text", key_col="doc_id",
                      docid_col="doc_id")
    hits = {
        r.docid: r.score
        for r in score_docs(idx, "spark", precision="float64").collect()
    }
    langs = {0: "en", 1: "en", 2: "de", 3: "fr"}
    by_lang: dict = {}
    for d, s in hits.items():
        by_lang.setdefault(langs[d], []).append(s)

    for mode, agg in [("max", max), ("min", min), ("total", sum),
                      ("avg", lambda v: sum(v) / len(v))]:
        out = {
            r.doc_id: r.score
            for r in query_time_join(
                idx, "spark", docs, docs, "lang", "lang", score_mode=mode
            ).collect()
        }
        want = {
            d: agg(by_lang[lang]) for d, lang in langs.items()
            if lang in by_lang
        }
        assert set(out) == set(want), mode
        for d in want:
            assert out[d] == pytest.approx(want[d], rel=1e-12), (mode, d)

    none = {
        r.doc_id: r.score
        for r in query_time_join(
            idx, "spark", docs, docs, "lang", "lang", score_mode="none"
        ).collect()
    }
    assert set(none) == {0, 1, 2} and all(v == 1.0 for v in none.values())
    with pytest.raises(ValueError):
        query_time_join(idx, "spark", docs, docs, "lang", "lang",
                        score_mode="bogus")


def test_word_break_spell_checker(spark):
    """WordBreakSpellChecker.java:71-312: breaks need every piece indexed
    with df >= minSuggestionFrequency; combinations need the concatenation
    indexed and >= one constituent missing (SUGGEST_WHEN_NOT_IN_INDEX)."""
    from lucene_spark.suggest import (
        suggest_word_breaks,
        suggest_word_combinations,
    )

    corpus = [
        (0, "spark window table court", "en"),
        (1, "spark window sparkwindow", "en"),
        (2, "table window", "en"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string, lang string")
    idx = build_index(spark, docs, text_col="text", key_col="doc_id",
                      docid_col="doc_id")

    # "sparktable" -> ["spark", "table"]
    rows = suggest_word_breaks(idx, "sparktable").collect()
    assert [list(r.words) for r in rows] == [["spark", "table"]]
    assert rows[0].n_words == 2 and rows[0].freq_max == 2  # spark df=2, table df=2
    # indexed term -> no suggestions under SUGGEST_WHEN_NOT_IN_INDEX
    assert suggest_word_breaks(idx, "sparkwindow").count() == 0
    assert suggest_word_breaks(
        idx, "sparkwindow", suggest_when_in_index=True).count() > 0
    # one break already works via the indexed compound "sparkwindow"
    one = suggest_word_breaks(idx, "sparkwindowtable").collect()
    assert [list(r.words) for r in one] == [["sparkwindow", "table"]]
    # max_changes=2 adds the 3-word split, sorted fewer-words-first
    # (LengthThenMaxFreqComparator)
    two = suggest_word_breaks(idx, "sparkwindowtable", max_changes=2).collect()
    assert [list(r.words) for r in two] == [
        ["sparkwindow", "table"], ["spark", "window", "table"]]
    # min_suggestion_frequency gate: court has df=1
    assert suggest_word_breaks(idx, "sparkcourt").count() == 1
    assert suggest_word_breaks(
        idx, "sparkcourt", min_suggestion_frequency=2).count() == 0

    # combinations: "spark"+"window" = indexed "sparkwindow"; but BOTH
    # constituents are indexed -> excluded unless suggest_when_in_index
    assert suggest_word_combinations(idx, ["spark", "window"]).count() == 0
    rows = suggest_word_combinations(
        idx, ["spark", "window"], suggest_when_in_index=True).collect()
    assert [(r.term, r.first_idx, r.last_idx, r.df, r.score) for r in rows] == [
        ("sparkwindow", 0, 1, 1, 1)
    ]
    # "sparkw"+"indow": constituents unindexed, concat IS the indexed
    # compound -> the canonical SUGGEST_WHEN_NOT_IN_INDEX hit
    rows = suggest_word_combinations(idx, ["sparkw", "indow"]).collect()
    assert [(r.term, r.df, r.score) for r in rows] == [("sparkwindow", 1, 1)]
    # "sparkwin"+"dow" not indexed either; "spark"+"window" with a missing
    # middle term combines across max_changes+1 inputs only
    rows = suggest_word_combinations(
        idx, ["qq", "spark", "window"], suggest_when_in_index=True).collect()
    assert ("sparkwindow", 1, 2) in [(r.term, r.first_idx, r.last_idx) for r in rows]
    # at-least-one-missing satisfied by "qq"
    rows = suggest_word_combinations(idx, ["qq", "sparkwindow"],
                                     max_combine_word_length=30)
    assert rows.count() == 0  # concat "qqsparkwindow" not indexed


def test_blended_term_query(spark):
    """BlendedTermQuery (search/BlendedTermQuery.java:271-302): every member
    scores under df = max(member dfs); dismax(tie=0.01) / boolean rewrites."""
    import math

    import numpy as np

    from lucene_spark.search import blended_term_query, search
    from lucene_spark.similarity import BM25Scorer, CollectionStats

    corpus = [(i, ("rare " if i == 0 else "") + "common filler" +
               (" extra" * (i % 2)), "en") for i in range(10)]
    docs = spark.createDataFrame(corpus, "doc_id long, text string, lang string")
    idx = build_index(spark, docs, text_col="text", key_col="doc_id",
                      docid_col="doc_id")
    # df(rare)=1, df(common)=10 -> blended df = 10 for BOTH
    q = blended_term_query(["rare", "common"], method="or")
    td = search(idx, q, k=10, precision="float64", prune=True)
    stats = CollectionStats(idx.doc_count, idx.sum_total_term_freq)
    blended = BM25Scorer(10, stats, precision="float64")
    got = dict(zip(td.docids.tolist(), td.scores.tolist()))
    # doc 0 holds both terms, each freq 1, dl 3 -> sum of two blended scores
    want0 = float(blended.score_from_dl(np.array([1]), np.array([3]))[0]) * 2
    assert got[0] == pytest.approx(want0, rel=1e-12)
    # common-only docs score exactly one blended term (dl 3 for odd ids
    # with the " extra" suffix, dl 2 for even)
    want1 = float(blended.score_from_dl(np.array([1]), np.array([3]))[0])
    assert got[1] == pytest.approx(want1, rel=1e-12)
    want2 = float(blended.score_from_dl(np.array([1]), np.array([2]))[0])
    assert got[2] == pytest.approx(want2, rel=1e-12)
    # dismax rewrite: doc0 score = max + tie*min = (1 + 0.01) * s (equal subs)
    td2 = search(idx, blended_term_query(["rare", "common"], tie=0.01),
                 k=10, precision="float64", prune=True)
    got2 = dict(zip(td2.docids.tolist(), td2.scores.tolist()))
    s0 = want0 / 2
    assert got2[0] == pytest.approx(s0 * 1.01, rel=1e-12)
    # pruned == exhaustive
    td3 = search(idx, blended_term_query(["rare", "common"], tie=0.01),
                 k=10, precision="float64", prune=False)
    assert td2.docids.tolist() == td3.docids.tolist()
    assert td2.scores.tolist() == td3.scores.tolist()
    # per-term boost
    tdb = search(idx, blended_term_query(["rare"], boosts={"rare": 2.0}),
                 k=3, precision="float64")
    base = search(idx, blended_term_query(["rare"]), k=3, precision="float64")
    assert tdb.scores[0] == pytest.approx(2 * base.scores[0], rel=1e-12)
    with pytest.raises(ValueError):
        blended_term_query(["a"], method="bogus")


def test_analyzing_infix_suggester(spark):
    """AnalyzingInfixSuggester.java:504-660: full tokens match exactly, the
    last key token prefix-matches ANY suggestion token, weight-desc order."""
    from lucene_spark.suggest import analyzing_infix_suggest

    sugg = spark.createDataFrame(
        [
            (0, "cheap wifi hotel", 10),
            (1, "wild west hotel", 30),
            (2, "wifi repair shop", 20),
            (3, "hotel with pool", 5),
        ],
        "sid long, text string, weight long")
    # key "hotel wi": 'hotel' exact + 'wi*' prefix
    rows = analyzing_infix_suggest(
        sugg, "hotel wi", num=10, tie_col="sid").collect()
    assert [(r.sid, r.weight) for r in rows] == [(1, 30), (0, 10)]
    # allTermsRequired=False -> SHOULD: any clause qualifies
    rows = analyzing_infix_suggest(
        sugg, "hotel wi", num=10, all_terms_required=False,
        tie_col="sid").collect()
    assert [r.sid for r in rows] == [1, 2, 0, 3]
    # bare prefix key
    rows = analyzing_infix_suggest(sugg, "wif", num=10, tie_col="sid").collect()
    assert [r.sid for r in rows] == [2, 0]
    # stopword-only key -> empty
    assert analyzing_infix_suggest(sugg, "the", num=10).count() == 0


def test_diversified_topk_and_high_freq_terms(spark):
    """DiversifiedTopDocsCollector (misc): <= max_per_key hits per key in
    the global top-k; HighFreqTerms: top vocabulary by df/cf."""
    from lucene_spark.funcscore import diversified_topk
    from lucene_spark.index import high_freq_terms
    from lucene_spark.search import score_docs

    corpus = [(i, "hit " * (10 - i) + f"w{i}", "a" if i < 5 else "b")
              for i in range(10)]
    docs = spark.createDataFrame(corpus, "doc_id long, text string, lang string")
    idx = build_index(spark, docs, text_col="text", key_col="doc_id",
                      docid_col="doc_id")
    keys = docs.select(docs.doc_id.alias("docid"), docs.lang.alias("key"))
    out = diversified_topk(idx, "hit", keys, k=4, max_per_key=2,
                           id_col="docid")
    rows = [(r.docid, r.key) for r in out.collect()]
    assert len(rows) == 4
    from collections import Counter
    assert max(Counter(k for _, k in rows).values()) <= 2
    # global order respected among the survivors
    scores = {r.docid: r.score
              for r in score_docs(idx, "hit", precision="float64").collect()}
    got_scores = [scores[d] for d, _ in rows]
    assert got_scores == sorted(got_scores, reverse=True)
    # best two of each key (docs 0,1 for 'a'; 5,6 for 'b' — freq decreasing)
    assert {d for d, _ in rows} == {0, 1, 5, 6}

    hf = high_freq_terms(idx, n=1).collect()
    assert hf[0]["term"] == "hit" and hf[0]["df"] == 10
    hf_cf = high_freq_terms(idx, n=1, by="cf").collect()
    assert hf_cf[0]["cf"] == sum(10 - i for i in range(10))
    import pytest as _pt
    with _pt.raises(ValueError):
        high_freq_terms(idx, by="zz")


def test_fuzzy_suggest(spark):
    """FuzzySuggester analog: token-sequence-prefix completion with
    Damerau edits, non-fuzzy first char, no edits under length 3."""
    from lucene_spark.suggest import fuzzy_suggest

    sugg = spark.createDataFrame(
        [
            (0, "key window batch", 30),
            (1, "key windmill", 20),
            (2, "keg window", 10),     # 'keg' d=1 from 'kye'? k-y-e vs k-e-g = 2 -> no
            (3, "window key", 40),     # wrong order: first token must match 'kye'
            (4, "key", 5),             # too few tokens
            (5, "the key window", 50), # stopword removed -> aligns
        ],
        "doc_id long, text string, weight long",
    )
    out = fuzzy_suggest(sugg, "kye wind", num=10, tie_col="doc_id").collect()
    assert [(r["doc_id"], r["weight"]) for r in out] == [(5, 50), (0, 30), (1, 20)]
    # no edits below min_fuzzy_length: 'ke' must match exactly as a prefix
    out2 = fuzzy_suggest(sugg, "ke", num=10, tie_col="doc_id").collect()
    assert [r["doc_id"] for r in out2] == [5, 0, 1, 2, 4]
    # non-fuzzy prefix: first char may not be edited
    out3 = fuzzy_suggest(sugg, "eky wind", num=10).collect()
    assert out3 == []


def test_unified_passages(spark):
    import math

    from lucene_spark.highlight import unified_passages

    rows = [
        # passage 2 has two hits vs one -> must win despite the later-start
        # norm penalty (norm decays slowly: 1 + 1/ln(87+start))
        (0, "alpha spark beta gamma. spark delta spark epsilon. zeta eta"),
        (1, "nothing to see here. still nothing"),
        (2, "spark at the start. unrelated tail"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in unified_passages(d, ["spark"]).collect()}
    assert 1 not in out                      # no match -> no passage
    assert out[0]["snippet"] == "spark delta spark epsilon."
    assert out[0]["start"] == 24
    assert out[2]["snippet"] == "spark at the start."
    assert out[2]["start"] == 0
    # faithful formula spot-check for doc 2, passage at start=0:
    # f=1, plen=19, clen=len(text), ttf=1
    text = rows[2][1]
    plen, clen, k1, b, piv = 19, len(text), 1.2, 0.75, 87.0
    tf = 1 / (1 + k1 * ((1 - b) + b * (plen / piv)))
    w = (k1 + 1) * math.log(1 + ((1 + clen / piv) + 0.5) / (1 + 0.5))
    want = (1 + 1 / math.log(piv + 0)) * tf * w
    assert abs(out[2]["score"] - want) < 1e-12
    # max_passages=2 returns both matching passages for doc 0, score desc
    two = sorted((r["start"], r["score"]) for r in
                 unified_passages(d, ["spark"], max_passages=2).collect()
                 if r["doc_id"] == 0)
    assert len(two) == 2 and two[0][0] == 0 and two[1][0] == 24


def test_string_distances():
    # TestJaroWinklerDistance.java:25-46 / TestNGramDistance.java:23-120
    from lucene_spark.suggest import (
        jaro_winkler_distance as jw,
        lucene_levenshtein_distance as ll,
        ngram_distance as ng,
    )

    assert jw("al", "al") == 1.0
    assert 0.961 < jw("martha", "marhta") < 0.962
    assert 0.832 < jw("jones", "johnson") < 0.833
    assert 0.958 < jw("abcvwxyz", "cabvwxyz") < 0.959
    assert 0.84 < jw("dwayne", "duane") < 0.841
    assert 0.813 < jw("dixon", "dicksonx") < 0.814
    assert jw("fvie", "ten") == 0.0
    assert jw("zac ephron", "zac efron") > jw("zac ephron", "kai ephron")

    for a, b, want in [("al", "al", 1.0), ("a", "a", 1.0), ("b", "a", 0.0),
                       ("martha", "marhta", 0.6666),
                       ("jones", "johnson", 0.4285),
                       ("natural", "contrary", 0.25),
                       ("abcvwxyz", "cabvwxyz", 0.75),
                       ("dwayne", "duane", 0.666),
                       ("dixon", "dicksonx", 0.5), ("six", "ten", 0.0)]:
        assert abs(ng(a, b, n=1) - want) < 0.001, (a, b)
    for a, b, want in [("a", "aa", 0.5), ("martha", "marhta", 0.6666),
                       ("jones", "johnson", 0.4285),
                       ("abcvwxyz", "cabvwxyz", 0.625),
                       ("dwayne", "duane", 0.5833),
                       ("dixon", "dicksonx", 0.5)]:
        assert abs(ng(a, b, n=2) - want) < 0.001, (a, b)
    assert ng("", "", 2) == 1.0 and ng("", "x", 2) == 0.0

    # LuceneLevenshtein: transposition = one edit, normalized by min(len)
    assert ll("martha", "marhta") == 1.0 - 1 / 6
    assert ll("ab", "ba") == 1.0 - 1 / 2
    assert ll("abc", "abc") == 1.0
    assert ll("", "") == 1.0 and ll("", "abc") == 0.0


def test_blended_infix_suggest(spark):
    # BlendedInfixSuggester.java:46-380 semantics: position blending,
    # raw-prefix coef=1 escape, weight floor/scale, (long) truncation
    from lucene_spark.suggest import blended_infix_suggest

    sugg = spark.createDataFrame(
        [
            (0, "wombat runs deep", 100),     # match pos 0
            (1, "big wombat", 200),           # match pos 1
            (2, "a big brown wombat", 300),   # pos 3 ('a' is a stopword: position gap kept)
            (3, "wombat exact", 0),           # weight 0 -> 1 -> x10 scale
            (4, "nothing here", 999),
        ],
        "doc_id long, text string, weight long",
    )
    out = {r["doc_id"]: r["score"]
           for r in blended_infix_suggest(
               sugg, "womb", num=10, blender_type="reciprocal",
               tie_col="doc_id").collect()}
    assert 4 not in out
    assert out[0] == 100          # startswith-key? no ('womb' raw prefix of text) -> yes! 'wombat...' starts with 'womb' -> coef 1
    assert out[1] == 100          # 200 * 1/(1+1)
    assert out[2] == 75           # 300 * 1/(3+1)
    assert out[3] == 10           # weight 0 -> 1 -> |w|<10 -> 10; coef 1 (raw startswith)
    # linear blending can go negative at position > 10, faithfully
    longtail = spark.createDataFrame(
        [(7, " ".join(["filler"] * 12) + " wombat", 50)],
        "doc_id long, text string, weight long")
    got = blended_infix_suggest(
        longtail, "womb", num=10, blender_type="linear",
        tie_col="doc_id").collect()
    assert got[0]["score"] == int(50 * (1 - 0.10 * 12))  # -10
    # exponential reciprocal
    got = blended_infix_suggest(
        sugg, "womb", num=10, blender_type="exponential_reciprocal",
        exponent=2.0, tie_col="doc_id").collect()
    m = {r["doc_id"]: r["score"] for r in got}
    assert m[2] == int(300 / 16)


def test_id_version_semantics(spark):
    from lucene_spark.idversion import (
        build_id_version_index, lookup_versions, seek_exact,
    )

    docs = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 9), ("b", 3, 2), ("c", 4, 7), ("a", 5, 9)],
        "url string, docid long, version long")
    iv = build_id_version_index(docs)
    got = {r["pk"]: (r["docid"], r["version"]) for r in iv.collect()}
    # highest version wins; version tie -> highest docid (latest write)
    assert got == {"a": (5, 9), "b": (3, 2), "c": (4, 7)}
    assert seek_exact(iv, "a") == (5, 9)
    assert seek_exact(iv, "a", min_version=10) is None   # version fast-fail
    assert seek_exact(iv, "zz") is None
    pks = spark.createDataFrame(
        [("a", 9), ("b", 3), ("zz", 0)], "pk string, min_version long")
    out = {r["pk"]: r["accepted"] for r in lookup_versions(iv, pks).collect()}
    assert out == {"a": True, "b": False}  # zz absent entirely


def test_id_version_bounds(spark):
    import pytest as _pt

    from lucene_spark.idversion import build_id_version_index

    bad = spark.createDataFrame([("a", 1, -3)], "url string, docid long, version long")
    with _pt.raises(Exception):
        build_id_version_index(bad).collect()


def test_half_float_quantize_vectors():
    # HalfFloatPoint.java round-to-even + nextUp/nextDown semantics
    from lucene_spark.points import (
        half_float_next_down, half_float_next_up, half_float_quantize,
    )

    assert half_float_quantize(1202.5) == 1202.0   # tie -> even
    assert half_float_quantize(1203.5) == 1204.0   # tie -> even
    assert half_float_quantize(1202.3) == 1202.0
    assert half_float_quantize(0.1) == 0.0999755859375  # fp16 nearest
    assert half_float_next_up(1202.0) == 1203.0    # ulp 1 in [1024, 2048)
    assert half_float_next_down(1202.0) == 1201.0
    assert half_float_next_up(1.0) == 1.0009765625  # ulp 2^-10 at 1.0


def test_big_integer_range(spark):
    from lucene_spark.points import big_integer_range_query
    from pyspark.sql import functions as F

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.expr("CAST(id AS DECIMAL(38,0)) "
               "* CAST('1000000000000000000000000000000000000' AS DECIMAL(38,0))"
               ).alias("v"))
    got = sorted(r["doc_id"] for r in big_integer_range_query(
        docs, "v",
        "2000000000000000000000000000000000000",
        "5000000000000000000000000000000000000").collect())
    assert got == [2, 3, 4, 5]
