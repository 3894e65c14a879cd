"""RSLP-S plural-only stemmers (pt/gl) — full 32,016-pair vocabulary parity
against the reference's ptminimaltestdata.zip, plus the Galician filter
test vectors (gl/TestGalicianMinimalStemFilter.java)."""

import os
import zipfile

import pytest

from lucene_spark.stemmers import (
    MINIMAL_STEMMERS,
    galician_minimal_stem,
    portuguese_minimal_stem,
)

PT_ZIP = ("/root/reference/lucene/analysis/common/src/test/org/apache/"
          "lucene/analysis/pt/ptminimaltestdata.zip")


def test_portuguese_full_vocabulary_parity():
    if not os.path.exists(PT_ZIP):
        pytest.skip("reference vocabulary not available")
    data = zipfile.ZipFile(PT_ZIP).read("ptminimal.txt").decode("utf-8")
    pairs = [ln.split("\t") for ln in data.splitlines() if ln.strip()]
    assert len(pairs) > 30000
    bad = [(w, portuguese_minimal_stem(w), e) for w, e in pairs
           if portuguese_minimal_stem(w) != e]
    assert bad == []


@pytest.mark.parametrize("w,want", [
    ("elefantes", "elefante"),
    ("elefante", "elefante"),
    ("kalóres", "kalór"),
    ("kalór", "kalór"),
    ("mas", "mas"),          # whole-word exception on the s-rule
    ("barcelonês", "barcelonês"),
    ("luces", "luz"),        # ces -> z
    ("xamós", "xamón"),      # ós -> ón
    ("cadrís", "cadril"),    # ís -> il
    ("país", "país"),        # exception
    ("", ""),
])
def test_galician_minimal(w, want):
    assert galician_minimal_stem(w) == want


def test_exception_falls_through_to_later_rules():
    # 'mães' is an ães-rule exception but the generic s-rule still fires
    assert portuguese_minimal_stem("mães") == "mãe"
    # 'cais' is blocked by BOTH its rules -> unchanged
    assert portuguese_minimal_stem("cais") == "cais"


def test_registered():
    assert MINIMAL_STEMMERS["pt"] is portuguese_minimal_stem
    assert MINIMAL_STEMMERS["gl"] is galician_minimal_stem
