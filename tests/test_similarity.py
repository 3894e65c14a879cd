"""BM25 float32 golden tests.

Expected values were computed with *Java* float arithmetic: the reference's
own SmallFloat.java compiled as-is plus the exact BM25Similarity.java:104-258
expression sequence (idf double→float cast, float avgdl, float32 cache,
weight - weight/(1 + tf*cache)), printed as Float.floatToIntBits.  Asserting
bit equality proves the numpy float32 reimplementation is bit-faithful.
"""

import math
import struct

import numpy as np
import pytest

from lucene_spark.similarity import BM25Scorer, CollectionStats, combine_scores, idf

# (df, docCount, sumTtf, tf, dl) -> Float.floatToIntBits(score) from Java
GOLDEN = [
    (1, 1, 10, 1, 10, 1040574246),
    (1, 2, 25, 1, 10, 1051701332),
    (5, 100, 5000, 3, 50, 1074072492),
    (50, 100, 5000, 7, 200, 1055123825),
    (1, 1000000, 50000000, 2, 40, 1091442652),
    (999999, 1000000, 50000000, 1, 39, 893984795),
    (3, 7, 133, 4, 23, 1058869670),
    (100, 50000, 2500000, 10, 1999, 1068465588),
    (1, 3, 12, 1, 5, 1053759008),
]

# intToByte4 spot values from the reference SmallFloat (unsigned)
GOLDEN_BYTES = {0: 0, 1: 1, 23: 23, 24: 24, 25: 25, 39: 39, 40: 40, 41: 40,
                100: 57, 255: 70, 1000: 87, 65535: 135, 2**31 - 1: 255}


def bits(f: np.float32) -> int:
    return struct.unpack("<i", struct.pack("<f", float(f)))[0]


@pytest.mark.parametrize("df,n,sttf,tf,dl,expected_bits", GOLDEN)
def test_score_bit_identical_to_java(df, n, sttf, tf, dl, expected_bits):
    scorer = BM25Scorer(df, CollectionStats(n, sttf), precision="lucene")
    s = scorer.score_from_dl(np.array([tf]), np.array([dl]))[0]
    assert bits(np.float32(s)) == expected_bits


def test_intToByte4_spot_values():
    from lucene_spark.smallfloat import int_to_byte4

    for dl, b in GOLDEN_BYTES.items():
        assert int_to_byte4(dl) == b


def test_idf_formula():
    v = idf(5, 100)
    assert v == np.float32(math.log(1 + (100 - 5 + 0.5) / (5 + 0.5)))
    assert v.dtype == np.float32


def test_combine_scores_float32_cast():
    a = np.array([1.5], dtype=np.float32)
    b = np.array([2.25], dtype=np.float32)
    out = combine_scores([a, b], precision="lucene")
    assert out.dtype == np.float32
    assert out[0] == np.float32(3.75)


def test_float64_precision_mode():
    scorer = BM25Scorer(5, CollectionStats(100, 5000), precision="float64")
    s = scorer.score_from_dl(np.array([3]), np.array([50]))[0]
    # plain double BM25 with exact dl (SQL-replicable)
    avgdl = 5000 / 100.0
    w = math.log(1 + (100 - 5 + 0.5) / (5 + 0.5))
    inv = 1.0 / (1.2 * ((1 - 0.75) + 0.75 * 50 / avgdl))
    assert s == w - w / (1.0 + 3 * inv)


def test_score_monotonic_in_tf_and_dl():
    scorer = BM25Scorer(10, CollectionStats(1000, 100000), precision="lucene")
    tfs = np.arange(1, 50)
    s = scorer.score_from_dl(tfs, np.full(len(tfs), 100))
    assert (np.diff(s) >= 0).all()
    dls = np.arange(5, 500)
    s2 = scorer.score_from_dl(np.full(len(dls), 3), dls)
    assert (np.diff(s2) <= 0).all()


def test_lmd_formula_and_clamp():
    """LMDirichletSimilarity.java:70-76: score = boost*(ln(1 + tf/(mu*p_c))
    + ln(mu/(dl+mu))), clamped at 0; p_c=(cf+1)/(sttf+1)
    (LMSimilarity.java:145-147), mu=2000."""
    from lucene_spark.similarity import LMDirichletScorer

    stats = CollectionStats(100, 5000)
    sc = LMDirichletScorer(10, stats, precision="float64", cf=40)
    p_c = 41.0 / 5001.0
    want = math.log(1 + 3.0 / (2000.0 * p_c)) + math.log(2000.0 / (50.0 + 2000.0))
    got = sc.score_from_dl(np.array([3]), np.array([50]))[0]
    assert got == pytest.approx(want, rel=1e-12) and got > 0
    # a common term (high p_c) with tf below the collection expectation
    # goes negative in the raw formula -> clamped to exactly 0
    common = LMDirichletScorer(90, stats, precision="float64", cf=4000)
    assert common.score_from_dl(np.array([1]), np.array([200]))[0] == 0.0


def test_lmd_requires_cf_and_rejects_phrase_weights():
    from lucene_spark.similarity import LMDirichletScorer

    stats = CollectionStats(10, 100)
    with pytest.raises(ValueError):
        LMDirichletScorer(1, stats)
    with pytest.raises(NotImplementedError):
        LMDirichletScorer.for_terms([1, 2], stats)


def test_lmd_lucene_mode_quantizes_norm_and_casts_float32():
    from lucene_spark.similarity import LMDirichletScorer
    from lucene_spark.smallfloat import LENGTH_TABLE, int_to_byte4_np

    stats = CollectionStats(100, 5000)
    s32 = LMDirichletScorer(10, stats, precision="lucene", cf=40)
    dl = np.array([137])
    byte = int_to_byte4_np(dl)
    qdl = float(LENGTH_TABLE[int(byte[0])])
    p_c = 41.0 / 5001.0
    want = np.float32(
        math.log(1 + 2.0 / (2000.0 * p_c)) + math.log(2000.0 / (qdl + 2000.0))
    )
    got = s32.score_from_dl(np.array([2]), dl)[0]
    assert got.dtype == np.float32 and got == want


def test_lmjm_formula():
    """LMJelinekMercerSimilarity.java:62-69: score = boost*ln(1 +
    ((1-lambda)*tf/dl)/(lambda*p_c)); p_c=(cf+1)/(sttf+1), lambda=0.1."""
    from lucene_spark.similarity import LMJelinekMercerScorer

    stats = CollectionStats(100, 5000)
    sc = LMJelinekMercerScorer(10, stats, precision="float64", cf=40)
    p_c = 41.0 / 5001.0
    want = math.log(1 + (0.9 * 3.0 / 50.0) / (0.1 * p_c))
    got = sc.score_from_dl(np.array([3]), np.array([50]))[0]
    assert got == pytest.approx(want, rel=1e-12) and got > 0
    # strictly positive even for a very common term with tf=1 in a long doc
    common = LMJelinekMercerScorer(90, stats, precision="float64", cf=4000)
    assert common.score_from_dl(np.array([1]), np.array([200]))[0] > 0.0
    # monotone in tf, anti-monotone in dl (pruning-bound contract)
    tfs = np.arange(1, 50)
    s = sc.score_from_dl(tfs, np.full(len(tfs), 100))
    assert (np.diff(s) > 0).all()
    dls = np.arange(5, 500)
    s2 = sc.score_from_dl(np.full(len(dls), 3), dls)
    assert (np.diff(s2) < 0).all()


def test_lmjm_requires_cf_and_rejects_phrase_weights():
    from lucene_spark.similarity import LMJelinekMercerScorer

    stats = CollectionStats(10, 100)
    with pytest.raises(ValueError):
        LMJelinekMercerScorer(1, stats)
    with pytest.raises(NotImplementedError):
        LMJelinekMercerScorer.for_terms([1, 2], stats)


def test_lmjm_lucene_mode_quantizes_norm_and_casts_float32():
    from lucene_spark.similarity import LMJelinekMercerScorer
    from lucene_spark.smallfloat import LENGTH_TABLE, int_to_byte4_np

    stats = CollectionStats(100, 5000)
    s32 = LMJelinekMercerScorer(10, stats, precision="lucene", cf=40)
    dl = np.array([137])
    byte = int_to_byte4_np(dl)
    qdl = float(LENGTH_TABLE[int(byte[0])])
    p_c = 41.0 / 5001.0
    want = np.float32(math.log(1 + (0.9 * 2.0 / qdl) / (0.1 * p_c)))
    got = s32.score_from_dl(np.array([2]), dl)[0]
    assert got.dtype == np.float32 and got == want


def test_dfr_gbh2_formula():
    """DFR G-B-H2 (DFRSimilarity.java:104-107, BasicModelG.java:44-50,
    AfterEffectB.java:32-36, NormalizationH2.java:57-58, c=1)."""
    from lucene_spark.similarity import DFRScorer

    stats = CollectionStats(100, 5000)
    sc = DFRScorer(10, stats, precision="float64", cf=40)
    F = 41.0
    lam = F / (100.0 + F)
    A = math.log2(lam + 1.0)
    B = math.log2((1.0 + lam) / lam)
    ae = (F + 1.0) / 11.0
    tfn = 3.0 * math.log2(1.0 + 50.0 / 50.0)
    want = (B - (B - A) / (1.0 + tfn)) * ae
    got = sc.score_from_dl(np.array([3]), np.array([50]))[0]
    assert got == pytest.approx(want, rel=1e-14) and got > 0
    # monotone contracts for pruning
    tfs = np.arange(1, 40)
    assert (np.diff(sc.score_from_dl(tfs, np.full(len(tfs), 100))) > 0).all()
    dls = np.arange(5, 400)
    assert (np.diff(sc.score_from_dl(np.full(len(dls), 3), dls)) < 0).all()
    with pytest.raises(ValueError):
        DFRScorer(1, stats)  # cf required
    with pytest.raises(NotImplementedError):
        DFRScorer.for_terms([1], stats)


def test_ib_lldh2_formula():
    """IB LL-D-H2 (IBSimilarity; DistributionLL.java:34, LambdaDF.java:32-39
    incl. the reference's float cast of lambda, NormalizationH2 c=1)."""
    from lucene_spark.similarity import IBScorer

    stats = CollectionStats(100, 5000)
    sc = IBScorer(10, stats, precision="float64")
    lam = float(np.float32(11.0 / 101.0))
    tfn = 3.0 * math.log2(1.0 + 50.0 / 50.0)
    want = -math.log(lam / (tfn + lam))
    got = sc.score_from_dl(np.array([3]), np.array([50]))[0]
    assert got == pytest.approx(want, rel=1e-14) and got > 0
    # lambda == 1 (term in every doc) nextDowns away from 1
    full = IBScorer(100, CollectionStats(100, 5000), precision="float64")
    assert 0 < full.lam < 1.0 or full.lam != 1.0
    tfs = np.arange(1, 40)
    assert (np.diff(sc.score_from_dl(tfs, np.full(len(tfs), 100))) > 0).all()


def test_axiomatic_f2exp_formula():
    """Axiomatic F2EXP (AxiomaticF2EXP.java:59-83 under Axiomatic.score,
    Axiomatic.java:96-106; defaults s=0.25, k=0.35, Axiomatic.java:91-93)."""
    from lucene_spark.similarity import AxiomaticScorer

    stats = CollectionStats(100, 5000)   # avgdl = 50
    sc = AxiomaticScorer(10, stats, precision="float64")
    tfln = 3.0 / (3.0 + 0.25 + 0.25 * 50.0 / 50.0)
    idf = (101.0 / 10.0) ** 0.35
    want = tfln * idf
    got = sc.score_from_dl(np.array([3]), np.array([50]))[0]
    assert got == pytest.approx(want, rel=1e-14) and got > 0
    # boost multiplies (Axiomatic.java:104)
    sc2 = AxiomaticScorer(10, stats, boost=2.0, precision="float64")
    assert sc2.score_from_dl(np.array([3]), np.array([50]))[0] == pytest.approx(
        2.0 * want, rel=1e-14)
    # monotone contracts for the impact-frontier pruning bounds
    tfs = np.arange(1, 40)
    assert (np.diff(sc.score_from_dl(tfs, np.full(len(tfs), 100))) > 0).all()
    dls = np.arange(5, 400)
    assert (np.diff(sc.score_from_dl(np.full(len(dls), 3), dls)) < 0).all()
    # no cf needed; phrase blending unsupported like the other SimilarityBase
    # scorers
    with pytest.raises(NotImplementedError):
        AxiomaticScorer.for_terms([1], stats)
    # lucene mode: double math over quantized norm, float32 cast
    lsc = AxiomaticScorer(10, stats, precision="lucene")
    v = lsc.score_from_dl(np.array([3]), np.array([50]))
    assert v.dtype == np.float32


def test_sweetspot_formula():
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java:94-140) with the
    engine's configured plateau setLengthNormFactors(1, 3, 0.5)."""
    from lucene_spark.similarity import SweetSpotScorer

    stats = CollectionStats(100, 5000)
    sc = SweetSpotScorer(10, stats, precision="float64")
    w = math.log(101.0 / 11.0) + 1.0

    def ln(dl):
        return 1.0 / math.sqrt(0.5 * (abs(dl - 1) + abs(dl - 3) - 2) + 1.0)

    # plateau: dl in [1, 3] -> norm exactly 1
    assert ln(1) == ln(2) == ln(3) == 1.0
    for dl in (1, 2, 3, 10, 50):
        got = sc.score_from_dl(np.array([4]), np.array([dl]))[0]
        assert got == pytest.approx(w * 2.0 * ln(dl), rel=1e-14), dl
    # the norm RISES toward the plateau (non-monotone in dl) — the reason
    # max_score uses the plateau bound
    assert ln(2) > ln(10)
    assert sc.max_score(np.array([4, 9]), np.array([200, 255])) == pytest.approx(
        w * 3.0, rel=1e-14)
    # baselineTf gates
    class Based(SweetSpotScorer):
        TF_BASE, TF_MIN = 1.5, 2.0

    b = Based(10, stats, precision="float64")
    assert b.score_from_dl(np.array([0]), np.array([2]))[0] == 0.0
    assert b.score_from_dl(np.array([1]), np.array([2]))[0] == pytest.approx(
        w * 1.5, rel=1e-14)  # freq <= tf_min -> tf_base
    assert b.score_from_dl(np.array([6]), np.array([2]))[0] == pytest.approx(
        w * math.sqrt(6 + 1.5 * 1.5 - 2.0), rel=1e-14)


def test_indri_formula_negative_and_prune_override():
    """IndriDirichletSimilarity.java:62-66: score = ln((tf + mu*p_c)/(dl+mu)),
    p_c = cf/sttf (IndriCollectionModel, :97-110, no +1), NO zero clamp."""
    import numpy as np

    from lucene_spark.similarity import IndriDirichletScorer

    stats = CollectionStats(100, 5000)
    sc = IndriDirichletScorer(10, stats, precision="float64", cf=40)
    p_c = 40.0 / 5000.0
    want = math.log((3.0 + 2000.0 * p_c) / (50.0 + 2000.0))
    got = sc.score_from_dl(np.array([3]), np.array([50]))[0]
    assert got == pytest.approx(want, rel=1e-12)
    assert got < 0  # log-probability: negative, and stays negative
    assert IndriDirichletScorer.ALLOW_PRUNE is False
    # monotone in tf, anti-monotone in dl (bounds stay ordered)
    tfs = np.arange(1, 50)
    assert (np.diff(sc.score_from_dl(tfs, np.full(len(tfs), 100))) >= 0).all()
    dls = np.arange(5, 500)
    assert (np.diff(sc.score_from_dl(np.full(len(dls), 3), dls)) <= 0).all()


def test_indri_search_prune_flag_is_overridden(spark):
    # prune=True must silently fall back to the exhaustive path and give
    # the same ranking as prune=False (negative scores break WAND bounds)
    from lucene_spark.index import build_index
    from lucene_spark.search import search

    docs = spark.createDataFrame(
        [(f"u{i}", "alpha beta " + ("alpha " * (i % 4)) + "tail")
         for i in range(30)],
        "url string, text string")
    idx = build_index(spark, docs, seg_size=8)
    a = search(idx, "alpha tail", k=10, precision="float64",
               similarity="indri", prune=True)
    b = search(idx, "alpha tail", k=10, precision="float64",
               similarity="indri", prune=False)
    assert a.docids.tolist() == b.docids.tolist()
    assert a.scores.tolist() == b.scores.tolist()
    assert (a.scores < 0).all()


def test_dfr_inl1_and_multi_pruned_vs_exhaustive(spark):
    from lucene_spark.index import build_index
    from lucene_spark.search import search

    docs = spark.createDataFrame(
        [(f"u{i}", " ".join(["alpha"] * (1 + i % 5) + ["beta"] * (i % 3)
                            + ["pad"] * (i % 7)))
         for i in range(60)],
        "url string, text string")
    idx = build_index(spark, docs, seg_size=16)
    for sim in ("dfr_inl1", "multi"):
        a = search(idx, "alpha beta", k=10, precision="float64",
                   similarity=sim, prune=True)
        b = search(idx, "alpha beta", k=10, precision="float64",
                   similarity=sim, prune=False)
        assert a.docids.tolist() == b.docids.tolist(), sim
        assert a.scores.tolist() == pytest.approx(b.scores.tolist()), sim


def test_multi_is_sum_of_subs():
    import numpy as np

    from lucene_spark.similarity import (
        BM25ClassicMultiScorer, BM25Scorer, ClassicScorer,
    )

    stats = CollectionStats(100, 5000)
    m = BM25ClassicMultiScorer(10, stats, precision="float64")
    b = BM25Scorer(10, stats, precision="float64")
    c = ClassicScorer(10, stats, precision="float64")
    f = np.array([1.0, 3.0, 7.0])
    dl = np.array([10.0, 50.0, 200.0])
    want = b.score_from_dl(f, dl) + c.score_from_dl(f, dl)
    assert m.score_from_dl(f, dl).tolist() == pytest.approx(want.tolist())


@pytest.mark.parametrize("name", ["dfi_standardized", "dfi_saturated",
                                  "dfi_chisquared"])
@pytest.mark.parametrize("precision", ["lucene", "float64"])
def test_dfi_scores_without_runtime_warnings(name, precision):
    """Docs at or below the expected frequency score 0 without their measure
    ever reaching log2, so no RuntimeWarning can mask a NaN regression."""
    import warnings

    from lucene_spark.similarity import SIMILARITIES
    from lucene_spark.smallfloat import LENGTH_TABLE, int_to_byte4_np

    stats = CollectionStats(100, 5000)
    sc = SIMILARITIES[name](10, stats, precision=precision, cf=400)
    f = np.array([1.0, 2.0, 3.0, 40.0, 90.0])
    dl = np.array([200.0, 10.0, 400.0, 60.0, 300.0])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = np.asarray(sc.score_from_dl(f, dl), dtype=np.float64)
    if precision == "lucene":
        dl = LENGTH_TABLE[int_to_byte4_np(dl.astype(np.int64)).astype(np.int64)]
    e = 401.0 * dl / 5001.0
    m = {"dfi_standardized": (f - e) / np.sqrt(e),
         "dfi_saturated": (f - e) / e,
         "dfi_chisquared": (f - e) ** 2 / e}[name]
    above = f > e
    assert above.any() and not above.all()
    assert np.isfinite(got).all()
    assert (got[~above] == 0.0).all()
    want = np.log2(m[above] + 1.0)
    if precision == "lucene":
        want = want.astype(np.float32)
    assert got[above].tolist() == pytest.approx(want.tolist())
