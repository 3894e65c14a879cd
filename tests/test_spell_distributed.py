"""Distributed classic-SpellChecker parity: suggest_similar_distributed
(gram candidate join + F.levenshtein as DataFrame ops, no full-vocabulary
collect) against the in-memory SpellChecker on the reference's English-
numbers dictionary.  With the whole dictionary inside the candidate pool
the distance-ranked output contract must match the in-memory path
exactly, mode filters included."""

import pytest

from lucene_spark.spellchecker import (
    SpellChecker,
    suggest_similar_distributed,
)
from tests.test_spellchecker import _corpus, _df, _terms


@pytest.fixture(scope="module")
def words(spark):
    field1, field2, _ = _corpus()
    terms = sorted(set(_terms(field1)) | set(_terms(field2)))
    freqs = _df(field1)
    return spark.createDataFrame(
        [(t, freqs.get(t, 0)) for t in terms], "word string, freq long")


@pytest.fixture(scope="module")
def sc12():
    field1, field2, _ = _corpus()
    sc = SpellChecker()
    sc.index_dictionary(_terms(field1))
    sc.index_dictionary(_terms(field2))
    return sc


@pytest.mark.parametrize("probe", ["fvie", "fiv", "fives", "fie", "onety",
                                   "tousand", "eigt"])
def test_parity_suggest_always(spark, words, sc12, probe):
    want = sc12.suggest_similar(probe, 3)
    got = suggest_similar_distributed(spark, words, probe, 3)
    assert got == want, (probe, got, want)


def test_parity_when_not_in_index(spark, words, sc12):
    field1, _, _ = _corpus()
    freqs = _df(field1)
    # word present in the index: both paths return the word itself
    assert sc12.suggest_similar("eight", 2, freqs) == ["eight"]
    got = suggest_similar_distributed(
        spark, words, "eight", 2, mode="SUGGEST_WHEN_NOT_IN_INDEX")
    assert got == ["eight"]
    # absent word: suggestions must carry freq >= 1 in both paths
    want = sc12.suggest_similar("eigt", 3, freqs)
    got = suggest_similar_distributed(
        spark, words, "eigt", 3, mode="SUGGEST_WHEN_NOT_IN_INDEX")
    assert got == want


def test_more_popular_filter(spark, words, sc12):
    field1, _, _ = _corpus()
    freqs = _df(field1)
    want = sc12.suggest_similar("twenty", 5, freqs,
                                mode="SUGGEST_MORE_POPULAR")
    got = suggest_similar_distributed(
        spark, words, "twenty", 5, mode="SUGGEST_MORE_POPULAR")
    assert got == want


def test_accuracy_threshold(spark, words, sc12):
    want = sc12.suggest_similar("fvie", 3, accuracy=0.93)
    got = suggest_similar_distributed(spark, words, "fvie", 3, accuracy=0.93)
    assert got == want == []


def test_exact_tie_at_cut_keeps_smaller_word(spark):
    """SuggestWordScoreComparator's third criterion is
    ``second.string.compareTo(first.string)``: on an exact score+freq tie
    the lexicographically smaller word ranks higher, so it survives the
    ``num_sug`` cut in both the in-memory queue and the distributed top-k."""
    dictionary = ["abcg", "abce", "abcf", "wxyz"]
    sc = SpellChecker()
    sc.index_dictionary(dictionary)
    words = spark.createDataFrame([(w, 7) for w in dictionary],
                                  "word string, freq long")
    freqs = dict.fromkeys(dictionary, 7)
    for n, want in [(2, ["abce", "abcf"]), (3, ["abce", "abcf", "abcg"])]:
        assert sc.suggest_similar("abcd", n) == want
        assert sc.suggest_similar("abcd", n, freqs, mode="SUGGEST_MORE_POPULAR") == want
        assert suggest_similar_distributed(spark, words, "abcd", n) == want
        assert suggest_similar_distributed(
            spark, words, "abcd", n, mode="SUGGEST_MORE_POPULAR") == want
