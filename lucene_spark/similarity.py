"""BM25 scoring, bit-faithful to Lucene's BM25Similarity.

Reference: lucene/core/src/java/org/apache/lucene/search/similarities/
BM25Similarity.java —
  idf  = (float) ln(1 + (docCount - df + 0.5) / (df + 0.5))        (:108-111)
  avgdl = (float) (sumTotalTermFreq / (double) docCount)           (:113-116)
  cache[j] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[j] / avgdl))   (:211-215)
  weight = boost * idf                                             (:246)
  score = weight - weight / (1f + freq * cache[norm & 0xFF])       (:250-258)
Multi-clause queries sum per-term float32 scores in float64 and cast the sum
back to float32 (DisjunctionSumScorer.java:38-44, ConjunctionScorer.java:59-65,
WANDScorer.java:518-526).

All float32 arithmetic is done with numpy float32 scalars/arrays, which follow
the same IEEE-754 round-to-nearest-even semantics as Java floats.

A ``float64`` precision mode is also provided: plain double-precision BM25
with *exact* document lengths (no SmallFloat quantization).  That mode exists
so results can be replicated exactly by ANSI-SQL oracles (DuckDB) in the
driver's correctness gate; the Lucene-faithful mode is ``lucene``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .smallfloat import LENGTH_TABLE


def idf(doc_freq: int, doc_count: int) -> np.float32:
    """float32 idf — BM25Similarity.java:108-111 (double math, float cast)."""
    return np.float32(math.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def avg_field_length(sum_total_term_freq: int, doc_count: int) -> np.float32:
    """float32 avgdl — BM25Similarity.java:113-116."""
    return np.float32(sum_total_term_freq / float(doc_count))


@dataclass(frozen=True)
class CollectionStats:
    doc_count: int
    sum_total_term_freq: int


class BM25Scorer:
    """Per-term scorer: precomputed weight + 256-entry norm-inverse cache.

    ``precision='lucene'``  → float32 ops + SmallFloat-quantized norms
                              (rank-identical to Lucene IndexSearcher).
    ``precision='float64'`` → double ops + exact doc lengths (SQL-replicable).
    """

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
    ):
        """``idf_value`` (a double) overrides the single-term idf — used by
        phrase/synonym weights where idf is computed over several terms'
        statistics before the float cast (BM25Similarity.idfExplain over
        TermStatistics[], BM25Similarity.java:121-135)."""
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        if precision == "lucene":
            k1f = np.float32(k1)
            bf = np.float32(b)
            avgdl = avg_field_length(stats.sum_total_term_freq, stats.doc_count)
            # cache[j] = 1f / (k1 * ((1-b) + b * LENGTH_TABLE[j] / avgdl)),
            # every intermediate rounded to float32 like the Java expression.
            self.cache = (
                np.float32(1.0)
                / (k1f * ((np.float32(1.0) - bf) + bf * LENGTH_TABLE / avgdl))
            ).astype(np.float32)
            idf32 = (
                np.float32(idf_value) if idf_value is not None
                else idf(doc_freq, stats.doc_count)
            )
            self.weight = np.float32(np.float32(boost) * idf32)
        elif precision == "float64":
            self.k1 = float(k1)
            self.b = float(b)
            self.avgdl = stats.sum_total_term_freq / float(stats.doc_count)
            idf64 = (
                float(idf_value) if idf_value is not None
                else math.log(1.0 + (stats.doc_count - doc_freq + 0.5) / (doc_freq + 0.5))
            )
            self.weight = float(boost) * idf64
        else:
            raise ValueError(f"unknown precision {precision!r}")

    @classmethod
    def for_terms(
        cls,
        doc_freqs: list[int],
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
    ) -> "BM25Scorer":
        """Multi-term weight (PhraseQuery): idf = Σ per-term double idfs,
        rounded once (BM25Similarity.idfExplain, BM25Similarity.java:121-135;
        PhraseWeight builds its SimScorer over all terms' stats)."""
        idf_sum = sum(
            math.log(1.0 + (stats.doc_count - df + 0.5) / (df + 0.5)) for df in doc_freqs
        )
        return cls(
            doc_freqs[0] if doc_freqs else 0, stats, k1=k1, b=b, boost=boost,
            precision=precision, idf_value=idf_sum,
        )

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        """Vectorized per-doc score.

        ``freq``: term frequencies (any int dtype). ``norm``: for 'lucene',
        the norm *byte* (0..255); for 'float64', the exact doc length.
        """
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float32)
            inv = self.cache[np.asarray(norm, dtype=np.int64)]
            return self.weight - self.weight / (np.float32(1.0) + f * inv)
        f = np.asarray(freq, dtype=np.float64)
        dl = np.asarray(norm, dtype=np.float64)
        inv = 1.0 / (self.k1 * ((1.0 - self.b) + self.b * dl / self.avgdl))
        return self.weight - self.weight / (1.0 + f * inv)

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        """Score given *exact* doc lengths: quantizes to norm bytes first in
        lucene mode (SmallFloat.intToByte4), uses dl directly in float64 mode."""
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        """Max score over a (freq, norm) impact frontier (MaxScoreCache.java:34-76)."""
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


def combine_scores(per_term_scores: list[np.ndarray], precision: str = "lucene") -> np.ndarray:
    """Sum clause scores: float64 accumulation, float32 result (Lucene mode).

    DisjunctionSumScorer.java:38-44 / ConjunctionScorer.java:59-65.
    """
    acc = np.zeros_like(per_term_scores[0], dtype=np.float64)
    for s in per_term_scores:
        acc += s.astype(np.float64)
    return acc.astype(np.float32) if precision == "lucene" else acc


class ClassicScorer:
    """Per-term TF-IDF scorer — ClassicSimilarity / TFIDFSimilarity.

    Reference: search/similarities/ClassicSimilarity.java —
      tf(freq)        = (float) sqrt(freq)                       (:43-46)
      idf(df, N)      = (float) (log((N+1)/(df+1)) + 1.0)        (:61-65)
      lengthNorm(dl)  = (float) (1.0 / sqrt(dl))                 (:37-40)
    and TFIDFSimilarity.java —
      normTable[i] = lengthNorm(byte4ToInt(i)), i in 1..255;
      normTable[0] = 1f / normTable[255]                         (:461-475)
      queryWeight  = boost * idf                                 (:489-494)
      score(freq, norm) = tf(freq) * queryWeight * normTable[norm] (:497-502)
    Multi-term (phrase) idf sums the per-term idfs
    (TFIDFSimilarity.idfExplain over TermStatistics[], :389-404).

    Interface-compatible with :class:`BM25Scorer` (score / score_from_dl /
    max_score / weight) so the query kernels are similarity-agnostic, exactly
    as Lucene's SimScorer contract makes ImpactsDISI pruning similarity-
    agnostic (the score is monotone increasing in freq and decreasing in
    length, so per-block impact frontiers remain valid upper bounds).

    ``k1`` / ``b`` accepted and ignored (parameter-free similarity) so all
    scorer classes share one construction signature.
    """

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
    ):
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        n = stats.doc_count
        idf64 = (
            float(idf_value)
            if idf_value is not None
            else math.log((n + 1) / float(doc_freq + 1)) + 1.0
        )
        if precision == "lucene":
            # normTable: float32 1/sqrt(LENGTH_TABLE[i]); entry 0 mirrors
            # TFIDFSimilarity.java:474 (normTable[0] = 1f / normTable[255])
            with np.errstate(divide="ignore"):
                table = (
                    np.float32(1.0)
                    / np.sqrt(LENGTH_TABLE, dtype=np.float32)
                ).astype(np.float32)
            table[0] = np.float32(1.0) / table[255]
            self.norm_table = table
            self.weight = np.float32(np.float32(boost) * np.float32(idf64))
        elif precision == "float64":
            self.weight = float(boost) * idf64
        else:
            raise ValueError(f"unknown precision {precision!r}")

    @classmethod
    def for_terms(
        cls,
        doc_freqs: list[int],
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
    ) -> "ClassicScorer":
        n = stats.doc_count
        idf_sum = sum(
            math.log((n + 1) / float(df + 1)) + 1.0 for df in doc_freqs
        )
        return cls(
            doc_freqs[0] if doc_freqs else 0, stats, boost=boost,
            precision=precision, idf_value=idf_sum,
        )

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float32)
            nv = self.norm_table[np.asarray(norm, dtype=np.int64)]
            return (np.sqrt(f, dtype=np.float32) * self.weight) * nv
        f = np.asarray(freq, dtype=np.float64)
        dl = np.asarray(norm, dtype=np.float64)
        return self.weight * np.sqrt(f) / np.sqrt(dl)

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class BooleanScorer:
    """Constant per-term scorer — BooleanSimilarity.java:25-60: every match
    scores exactly the query boost, independent of freq and length (:58-60).
    Interface-compatible with :class:`BM25Scorer`."""

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
    ):
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        return cls(doc_freqs[0] if doc_freqs else 0, stats, boost=boost,
                   precision=precision)

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        dt = np.float32 if self.precision == "lucene" else np.float64
        return np.full(np.asarray(freq).shape, self.weight, dtype=dt)

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        return 0.0 if len(freqs) == 0 else float(self.weight)


class LMDirichletScorer:
    """Language model with Bayesian (Dirichlet-prior) smoothing —
    LMDirichletSimilarity.java:36-76 (Zhai & Lafferty 2001):

      p_c   = (totalTermFreq + 1) / (sumTotalTermFreq + 1)   (double —
              LMSimilarity.DefaultCollectionModel.computeProbability,
              LMSimilarity.java:145-147)
      score = boost * (ln(1 + freq / (mu * p_c)) + ln(mu / (dl + mu)))
              clamped at 0 (:70-76 — "the formula ... assigns a negative
              score to documents that contain the term but with fewer
              occurrences than predicted by the collection model; the
              Lucene implementation returns 0"), default mu = 2000 (:59-67).

    Needs the term's COLLECTION frequency (``cf``), not just docFreq —
    declared via ``NEEDS_CF`` so the query layer fetches cf from the term
    dictionary.  SimilarityBase computes in double and casts the result to
    float (SimilarityBase.java score contract); 'lucene' mode mirrors that
    (double math over the quantized LENGTH_TABLE docLen, float32 cast),
    'float64' keeps doubles over exact lengths (SQL-replicable).

    Phrase/synonym/span weights are not supported under this similarity
    (``for_terms`` raises): their blended-statistics contract is
    BM25/TFIDF-specific in this engine.  Score is monotone increasing in
    freq and decreasing in dl, so per-block impact frontiers remain valid
    pruning bounds.
    """

    NEEDS_CF = True
    MU = 2000.0

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
        cf: int | None = None,
    ):
        if cf is None:
            raise ValueError(
                "LM-Dirichlet needs the term's collection frequency; the "
                "query layer passes cf= from the term dictionary (phrase/"
                "synonym/span weights are unsupported under similarity='lmd')"
            )
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.mu = float(self.MU)
        self.p_c = (float(cf) + 1.0) / (float(stats.sum_total_term_freq) + 1.0)
        # informational; phrase/span window bounds never see this scorer
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='lmd' (blended multi-term statistics are "
            "BM25/TFIDF-specific in this engine)"
        )

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        s = self.boost * (
            np.log(1.0 + f / (self.mu * self.p_c))
            + np.log(self.mu / (dl + self.mu))
        )
        return np.maximum(s, 0.0)

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(
            np.asarray(freq, dtype=np.float64),
            np.asarray(norm, dtype=np.float64),
        )

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class LMJelinekMercerScorer:
    """Language model with Jelinek-Mercer smoothing —
    LMJelinekMercerSimilarity.java:40-69 (Zhai & Lafferty 2001):

      p_c   = (totalTermFreq + 1) / (sumTotalTermFreq + 1)   (double —
              LMSimilarity.DefaultCollectionModel.computeProbability,
              LMSimilarity.java:145-147)
      score = boost * ln(1 + ((1 - lambda) * freq / dl) / (lambda * p_c))
              (:62-69); lambda in (0, 1], ~0.1 for title queries and ~0.7
              for long queries per the class javadoc — the engine default
              is 0.1 (there is no Lucene default; the constructor requires
              lambda).

    Always > 0 for freq > 0 (ln of 1 + positive), so no clamp, and monotone
    increasing in freq / decreasing in dl — per-block impact frontiers stay
    valid pruning bounds.  Shares LM-Dirichlet's NEEDS_CF plumbing and its
    phrase/synonym/span restriction (see :class:`LMDirichletScorer`).
    """

    NEEDS_CF = True
    LAMBDA = 0.1

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
        cf: int | None = None,
    ):
        if cf is None:
            raise ValueError(
                "LM-Jelinek-Mercer needs the term's collection frequency; "
                "the query layer passes cf= from the term dictionary (phrase/"
                "synonym/span weights are unsupported under similarity='lmjm')"
            )
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.lam = float(self.LAMBDA)
        self.p_c = (float(cf) + 1.0) / (float(stats.sum_total_term_freq) + 1.0)
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='lmjm' (blended multi-term statistics are "
            "BM25/TFIDF-specific in this engine)"
        )

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return self.boost * np.log(
            1.0 + ((1.0 - self.lam) * f / dl) / (self.lam * self.p_c)
        )

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(
            np.asarray(freq, dtype=np.float64),
            np.asarray(norm, dtype=np.float64),
        )

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class IndriDirichletScorer(LMDirichletScorer):
    """Indri's Dirichlet-smoothed language model —
    IndriDirichletSimilarity.java:35-66 (mu default 2000):

      p_c   = totalTermFreq / sumTotalTermFreq    (IndriCollectionModel,
              :97-110 — no +1 smoothing, unlike LMSimilarity's default)
      score = boost * ln((freq + mu * p_c) / (dl + mu))      (:62-66)

    NOT clamped at zero: Indri scores are log-probabilities and almost
    always negative.  That breaks the zero-lower-bound assumption the
    block-max pruning kernels share with Lucene's WAND (WANDScorer
    requires non-negative scores), so ``ALLOW_PRUNE = False`` forces the
    exhaustive per-segment path — exactly the reference's situation, where
    an always-negative similarity cannot benefit from impact pruning.
    Monotonicity (increasing in freq, decreasing in dl) still holds.
    """

    ALLOW_PRUNE = False

    def __init__(self, doc_freq, stats, k1=1.2, b=0.75, boost=1.0,
                 precision="lucene", idf_value=None, cf=None):
        super().__init__(doc_freq, stats, k1=k1, b=b, boost=boost,
                         precision=precision, idf_value=idf_value, cf=cf)
        self.p_c = float(cf) / float(stats.sum_total_term_freq)

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return self.boost * np.log(
            (f + self.mu * self.p_c) / (dl + self.mu)
        )



class DFRScorer:
    """Divergence from Randomness, the DFR G-B-H2 configuration —
    DFRSimilarity.java:104-107 over:

      tfn   = freq * log2(1 + c*avgdl/dl), c = 1   (NormalizationH2.java:57-58)
      aeB   = (F + 1) / n with F = cf + 1, n = df + 1
                                              (AfterEffectB.java:32-36)
      lam   = F / (N + F)                     (BasicModelG.java:44-47)
      score = boost * (B - (B - A)/(1 + tfn)) * aeB,
              A = log2(lam + 1), B = log2((1 + lam)/lam)
                                              (BasicModelG.java:48-50)

    SimilarityBase contract: double math, float32 result cast; B >= A keeps
    the score non-decreasing in tfn (the file's own comment), and H2 is
    anti-monotone in dl — the impact-frontier pruning bounds stay valid.
    Needs cf (NEEDS_CF); phrase/synonym/span blending unsupported, as for
    the LM scorers.
    """

    NEEDS_CF = True
    C = 1.0

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
        cf: int | None = None,
    ):
        if cf is None:
            raise ValueError(
                "DFR needs the term's collection frequency; the query layer "
                "passes cf= from the term dictionary (phrase/synonym/span "
                "weights are unsupported under similarity='dfr')"
            )
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.avgdl = stats.sum_total_term_freq / float(stats.doc_count)
        F = float(cf) + 1.0
        lam = F / (float(stats.doc_count) + F)
        self.A = math.log2(lam + 1.0)
        self.B = math.log2((1.0 + lam) / lam)
        self.ae = (F + 1.0) / (float(doc_freq) + 1.0)
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='dfr'"
        )

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        tfn = f * (np.log(1.0 + self.C * self.avgdl / dl) / math.log(2.0))
        return self.boost * (self.B - (self.B - self.A) / (1.0 + tfn)) * self.ae

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(
            np.asarray(freq, dtype=np.float64),
            np.asarray(norm, dtype=np.float64),
        )

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class IBScorer:
    """Information-Based, the IB LL-D-H2 configuration —
    IBSimilarity.java score = boost * distribution.score(stats, tfn, lambda):

      tfn    = freq * log2(1 + c*avgdl/dl), c = 1  (NormalizationH2)
      lambda = (float)((df + 1)/(N + 1)), nextDown'd away from exactly 1
                                                   (LambdaDF.java:32-39 —
               the float cast is the reference's, kept bit-faithful)
      LL     = -ln(lambda / (tfn + lambda))        (DistributionLL.java:34)

    Monotone increasing in tfn, anti-monotone in dl — pruning bounds valid.
    """

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
        cf: int | None = None,
    ):
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.avgdl = stats.sum_total_term_freq / float(stats.doc_count)
        lam = np.float32((doc_freq + 1.0) / (stats.doc_count + 1.0))
        if lam == np.float32(1.0):
            lam = np.nextafter(lam, np.float32(0.0), dtype=np.float32)
        self.lam = float(lam)
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='ib'"
        )

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        tfn = f * (np.log(1.0 + self.avgdl / dl) / math.log(2.0))
        return self.boost * -np.log(self.lam / (tfn + self.lam))

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(
            np.asarray(freq, dtype=np.float64),
            np.asarray(norm, dtype=np.float64),
        )

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class AxiomaticScorer:
    """Axiomatic retrieval, the F2EXP configuration —
    AxiomaticF2EXP.java:59-83 under Axiomatic.score (Axiomatic.java:96-106):

      score = boost * tf * ln * tfln * idf - gamma, clamped at 0, with
      tf = ln = 1, gamma = 0                        (F2EXP :59-65, :83)
      tfln  = freq / (freq + s + s * dl / avgdl)    (:71-75)
      idf   = ((N + 1) / df) ^ k                    (:77-81)
      defaults s = 0.25, k = 0.35 (Axiomatic.java:91-93)

    SimilarityBase contract: double math, float32 result cast.  tfln is
    monotone increasing in freq and decreasing in dl, idf is per-term
    constant — the per-block impact-frontier pruning bounds stay valid.
    Uses only df/N/avgdl (no cf).
    """

    S = 0.25
    K = 0.35

    def __init__(
        self,
        doc_freq: int,
        stats: CollectionStats,
        k1: float = 1.2,
        b: float = 0.75,
        boost: float = 1.0,
        precision: str = "lucene",
        idf_value: float | None = None,
        cf: int | None = None,
    ):
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.avgdl = stats.sum_total_term_freq / float(stats.doc_count)
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='ax'"
        )

    # component hooks (Axiomatic.java:96-106 score = boost * tf * ln *
    # tfln * idf - gamma, clamped at 0); F2EXP overrides below, the
    # F1EXP/F1LOG/F2LOG subclasses swap individual components exactly as
    # the Java subclasses do
    def _tf64(self, f: np.ndarray) -> np.ndarray:
        return np.ones_like(f)

    def _ln64(self, dl: np.ndarray) -> np.ndarray:
        return np.ones_like(dl)

    def _tfln64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        # F2EXP/F2LOG tfln (AxiomaticF2EXP.java:71-75)
        return f / (f + self.S + self.S * dl / self.avgdl)

    def _idf64(self) -> float:
        # F2EXP idf = ((N+1)/df)^k (AxiomaticF2EXP.java:77-81)
        return ((float(self.stats.doc_count) + 1.0)
                / float(self.doc_freq)) ** self.K

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        comp = (self._tf64(f) * self._ln64(dl) * self._tfln64(f, dl)
                * self._idf64())
        return np.maximum(self.boost * comp, 0.0)

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(
            np.asarray(freq, dtype=np.float64),
            np.asarray(norm, dtype=np.float64),
        )

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class SweetSpotScorer(ClassicScorer):
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java:34-190): Classic
    TF-IDF with a plateau length norm and a configurable tf:

      lengthNorm(dl) = 1/sqrt(steep·(|dl−min| + |dl−max| − (max−min)) + 1)
                                                   (:94-121 — flat 1.0 on
                       the [min, max] plateau, falling off on both sides)
      tf(freq)       = baselineTf (:123-140): 0 at 0, tf_base up to tf_min,
                       sqrt(freq + tf_base² − tf_min) above

    This registry entry is a CONFIGURED instance — setLengthNormFactors(1,
    3, 0.5f) with baseline-tf defaults (tf_base = tf_min = 0, where
    baselineTf degrades to Classic's sqrt) — since Lucene's own defaults
    (min = max = 1) degrade to ClassicSimilarity exactly.

    Pruning note: the plateau norm is NOT monotone in dl (it RISES toward
    the plateau from the short side), so the (freq↑, dl↓) impact frontiers
    do not bound it; ``max_score`` therefore bounds the norm by its global
    maximum 1.0 (the plateau value) — a valid, slightly looser window
    bound; duel tests assert pruned == exhaustive.
    """

    LN_MIN = 1
    LN_MAX = 3
    STEEP = 0.5
    TF_BASE = 0.0
    TF_MIN = 0.0

    def _length_norm64(self, dl: np.ndarray) -> np.ndarray:
        return 1.0 / np.sqrt(
            self.STEEP
            * (
                np.abs(dl - self.LN_MIN)
                + np.abs(dl - self.LN_MAX)
                - (self.LN_MAX - self.LN_MIN)
            )
            + 1.0
        )

    def _tf64(self, f: np.ndarray) -> np.ndarray:
        base, mn = self.TF_BASE, self.TF_MIN
        out = np.where(
            f <= mn, base, np.sqrt(np.maximum(f + base * base - mn, 0.0))
        )
        return np.where(f == 0.0, 0.0, out)

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(
                np.float64
            )
            return (
                float(self.weight) * self._tf64(f) * self._length_norm64(dl)
            ).astype(np.float32)
        f = np.asarray(freq, dtype=np.float64)
        dl = np.asarray(norm, dtype=np.float64)
        return self.weight * self._tf64(f) * self._length_norm64(dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        # plateau bound: lengthNorm <= 1.0 everywhere (see class docstring)
        f = np.asarray(freqs, dtype=np.float64)
        return float(np.max(float(self.weight) * self._tf64(f)))


class AxiomaticF1EXPScorer(AxiomaticScorer):
    """AxiomaticF1EXP (search/similarities/AxiomaticF1EXP.java:59-90):
      tf   = 1 + ln(1 + ln(freq + 1))            (:63-67, freq+1 guard)
      ln   = (avgdl + s) / (avgdl + dl·s)        (:70-73)
      tfln = 1, gamma = 0                        (:76-80, :83-87)
      idf  = ((N + 1) / df)^k                    (:82-86)
    defaults s = 0.25, k = 0.35 (Axiomatic.java:91-93).  tf is monotone
    increasing in freq and ln decreasing in dl, so the impact-frontier
    pruning bounds stay valid."""

    def _tf64(self, f):
        return 1.0 + np.log(1.0 + np.log(f + 1.0))

    def _ln64(self, dl):
        return (self.avgdl + self.S) / (self.avgdl + dl * self.S)

    def _tfln64(self, f, dl):
        return np.ones_like(f)


class AxiomaticF1LOGScorer(AxiomaticF1EXPScorer):
    """AxiomaticF1LOG (AxiomaticF1LOG.java:55-85): F1EXP's tf and ln with
    idf = ln((N + 1) / df) (:80-84)."""

    def _idf64(self):
        return math.log(
            (float(self.stats.doc_count) + 1.0) / float(self.doc_freq))


class AxiomaticF2LOGScorer(AxiomaticScorer):
    """AxiomaticF2LOG (AxiomaticF2LOG.java:53-83): F2EXP's tfln with
    idf = ln((N + 1) / df) (:78-82)."""

    def _idf64(self):
        return math.log(
            (float(self.stats.doc_count) + 1.0) / float(self.doc_freq))


class DFIScorer:
    """Divergence From Independence (search/similarities/
    DFISimilarity.java:45-70):

      expected = (cf + 1) · dl / (sttf + 1)          (:61-62)
      score    = 0 when freq <= expected             (:64-65)
                 boost · log2(measure + 1) otherwise (:67-68)

    with the independence measure plugged per subclass
    (IndependenceStandardized.java:33 (f−e)/√e, IndependenceSaturated.java:32
    (f−e)/e, IndependenceChiSquared.java:33 (f−e)²/e).  Parameter-free;
    needs cf (NEEDS_CF plumbing, like the LM family).

    SimilarityBase contract: double math, float32 result cast in 'lucene'
    mode.  Monotone: the measure rises in freq and falls in dl (expected
    grows with dl), so per-block (freq↑, dl↓) impact frontiers remain
    valid upper bounds for pruning; duel tests assert pruned ==
    exhaustive.  The javadoc's advice to KEEP stopwords (:33-35) is the
    caller's analyzer choice — the scorer itself is analyzer-agnostic.
    """

    NEEDS_CF = True

    def __init__(self, doc_freq, stats, k1=1.2, b=0.75, boost=1.0,
                 precision="lucene", idf_value=None, cf=None):
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        if cf is None:
            raise ValueError("DFI requires the term's collection frequency")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.cf = int(cf)
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost))

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='dfi_*'")

    def _measure64(self, f: np.ndarray, e: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def _score64(self, f: np.ndarray, dl: np.ndarray) -> np.ndarray:
        expected = ((self.cf + 1.0) * dl
                    / (self.stats.sum_total_term_freq + 1.0))
        f, expected = np.broadcast_arrays(f, np.maximum(expected, 1e-300))
        # only f > expected scores; the log2 never sees the measure of the
        # other docs, so a NaN there is a real defect, not an expected warning
        hit = f > expected
        out = np.zeros(f.shape)
        out[hit] = self.boost * np.log2(
            self._measure64(f[hit], expected[hit]) + 1.0)
        return out

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(
            np.asarray(freq, dtype=np.float64),
            np.asarray(norm, dtype=np.float64),
        )

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class DFIStandardizedScorer(DFIScorer):
    """(f − e)/√e — IndependenceStandardized.java:33."""

    def _measure64(self, f, e):
        return (f - e) / np.sqrt(e)


class DFISaturatedScorer(DFIScorer):
    """(f − e)/e — IndependenceSaturated.java:32."""

    def _measure64(self, f, e):
        return (f - e) / e


class DFIChiSquaredScorer(DFIScorer):
    """(f − e)²/e — IndependenceChiSquared.java:33."""

    def _measure64(self, f, e):
        return (f - e) * (f - e) / e


class LegacyBM25Scorer(BM25Scorer):
    """LegacyBM25Similarity (misc/src/java/org/apache/lucene/misc/search/
    similarity/LegacyBM25Similarity.java:33-84): delegates to BM25 with
    ``boost * (1 + k1)`` (:84) — the pre-Lucene-8 ``(k1 + 1)`` tf
    numerator restored as a constant weight factor, "to ease migration"
    for scores users pinned to the old scale.  Rank order is identical to
    BM25; only the scale changes, so every pruning bound scales by the
    same factor and remains valid.

    The factor is applied in the similarity's own arithmetic mode:
    float32 rounding under precision='lucene' (the Java expression is
    float), plain double under 'float64' (keeps the DuckDB twin's
    rational arithmetic exact)."""

    def __init__(self, doc_freq, stats, k1=1.2, b=0.75, boost=1.0,
                 precision="lucene", idf_value=None):
        if precision == "lucene":
            eff = float(np.float32(
                np.float32(boost) * (np.float32(1.0) + np.float32(k1))))
        else:
            eff = float(boost) * (1.0 + float(k1))
        super().__init__(doc_freq, stats, k1=k1, b=b, boost=eff,
                         precision=precision, idf_value=idf_value)


# similarity registry (IndexSearcher.setSimilarity analog,
# search/IndexSearcher.java:286-294): name → scorer class
class DFRInL1Scorer:
    """DFR I(n)-L-H1 — the parameter-free second canonical DFR
    configuration (BasicModelIn.java:34-45, AfterEffectL.java:31-35,
    NormalizationH1.java:55-58, c = 1):

      tfn   = freq * avgdl/dl                       (H1)
      score = boost * log2((N+1)/(df+0.5)) * (1 - 1/(1+tfn))
              (= A * tfn/(1+tfn): I(n) rewritten to compose with the L
              after-effect while staying non-decreasing in tfn,
              BasicModelIn.java:38-44)

    Unlike G-B-H2 this needs no collection frequency (I(n) is df-based).
    Monotone in tfn, anti-monotone in dl -> pruning bounds stay valid.
    """

    def __init__(self, doc_freq, stats, k1=1.2, b=0.75, boost=1.0,
                 precision="lucene", idf_value=None):
        if precision not in ("lucene", "float64"):
            raise ValueError(f"unknown precision {precision!r}")
        self.doc_freq = doc_freq
        self.stats = stats
        self.precision = precision
        self.boost = float(boost)
        self.avgdl = stats.sum_total_term_freq / float(stats.doc_count)
        self.A = math.log2((float(stats.doc_count) + 1.0)
                           / (float(doc_freq) + 0.5))
        self.weight = (
            np.float32(boost) if precision == "lucene" else float(boost)
        )

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='dfr_inl1'"
        )

    def _score64(self, f, dl):
        tfn = f * (self.avgdl / dl)
        return self.boost * self.A * (1.0 - 1.0 / (1.0 + tfn))

    def score(self, freq, norm):
        if self.precision == "lucene":
            f = np.asarray(freq, dtype=np.float64)
            dl = LENGTH_TABLE[np.asarray(norm, dtype=np.int64)].astype(np.float64)
            return self._score64(f, dl).astype(np.float32)
        return self._score64(np.asarray(freq, dtype=np.float64),
                             np.asarray(norm, dtype=np.float64))

    def score_from_dl(self, freq, dl):
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs, norms):
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


class MultiScorer:
    """MultiSimilarity — SUM of sub-similarity scores per (freq, norm)
    (MultiSimilarity.java:36-68: "will sum the scores of the provided
    sims"; the SimScorer accumulates in float).  Default pair BM25 +
    Classic, the composition the reference's tests use; sub-scorer classes
    ride on the SUBS attribute so other pairs subclass in one line.

    max_score = sum of sub max_scores — a valid upper bound, so the
    block-max pruning kernels stay correct.
    """

    SUBS: tuple = ()

    def __init__(self, doc_freq, stats, k1=1.2, b=0.75, boost=1.0,
                 precision="lucene", idf_value=None):
        self.precision = precision
        self.subs = [
            cls(doc_freq, stats, k1=k1, b=b, boost=boost, precision=precision)
            for cls in type(self).SUBS
        ]
        self.weight = sum(float(s.weight) for s in self.subs)

    @classmethod
    def for_terms(cls, doc_freqs, stats, k1=1.2, b=0.75, boost=1.0,
                  precision="lucene"):
        raise NotImplementedError(
            "phrase/synonym/span weights are not supported under "
            "similarity='multi'"
        )

    def score(self, freq, norm):
        if self.precision == "lucene":
            acc = np.zeros(len(np.asarray(freq)), dtype=np.float32)
            for s in self.subs:
                acc = acc + s.score(freq, norm)  # float32 accumulation
            return acc
        acc = np.zeros(len(np.asarray(freq)), dtype=np.float64)
        for s in self.subs:
            acc = acc + s.score(freq, norm)
        return acc

    def score_from_dl(self, freq, dl):
        if self.precision == "lucene":
            from .smallfloat import int_to_byte4_np

            return self.score(freq, int_to_byte4_np(np.asarray(dl)))
        return self.score(freq, dl)

    def max_score(self, freqs, norms):
        if len(freqs) == 0:
            return 0.0
        return float(sum(s.max_score(freqs, norms) for s in self.subs))


class BM25ClassicMultiScorer(MultiScorer):
    """MultiSimilarity(BM25, Classic) — the registry's 'multi' entry."""

    SUBS = (BM25Scorer, ClassicScorer)



SIMILARITIES = {
    "bm25": BM25Scorer,
    "legacy_bm25": LegacyBM25Scorer,
    "classic": ClassicScorer,
    "boolean": BooleanScorer,
    "lmd": LMDirichletScorer,
    "lmjm": LMJelinekMercerScorer,
    "indri": IndriDirichletScorer,
    "dfr": DFRScorer,
    "dfr_inl1": DFRInL1Scorer,
    "ib": IBScorer,
    "ax": AxiomaticScorer,
    "ax_f1exp": AxiomaticF1EXPScorer,
    "ax_f1log": AxiomaticF1LOGScorer,
    "ax_f2log": AxiomaticF2LOGScorer,
    "dfi_standardized": DFIStandardizedScorer,
    "dfi_saturated": DFISaturatedScorer,
    "dfi_chisquared": DFIChiSquaredScorer,
    "sweetspot": SweetSpotScorer,
    "multi": BM25ClassicMultiScorer,
}
