"""LatvianStemmer vocabulary parity: every checkOneTerm vector from the
reference's TestLatvianStemmer.java (172 pairs), extracted at test time so
the parity set can't drift from the reference."""

import os
import re

import pytest

from lucene_spark.stemmers import LIGHT_STEMMERS, latvian_stem

REF = ("/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
       "analysis/lv/TestLatvianStemmer.java")


_NO_REF = pytest.mark.skipif(not os.path.exists(REF),
                             reason="reference test source not available")


def _pairs():
    # read at collection time by the parametrize below, so an absent
    # reference yields no pairs instead of failing the module's import
    if not os.path.exists(REF):
        return []
    src = open(REF).read()
    # the reference file has two literals with a stray trailing space the
    # tokenizer would strip before the stemmer ever sees them
    return [(w.strip(), e) for w, e in
            re.findall(r'checkOneTerm\(a,\s*"([^"]+)",\s*"([^"]+)"\)', src)]


@_NO_REF
def test_vectors_present():
    assert len(_pairs()) >= 170


@_NO_REF
@pytest.mark.parametrize("w,want", _pairs())
def test_latvian_stem(w, want):
    assert latvian_stem(w) == want


def test_registered():
    assert LIGHT_STEMMERS["lv"] is latvian_stem


def test_unpalatalize_u_rules():
    # kš -> kst and ņņ -> nn fire only after a 'u'-initial suffix strip
    assert latvian_stem("rīkšu") == "rīkst"
    assert latvian_stem("zvaņņu") == "zvann"
