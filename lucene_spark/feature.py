"""FeatureField / FeatureQuery — static per-document scoring signals.

Reference: lucene/core/src/java/org/apache/lucene/document/FeatureField.java —
Lucene stores a feature as a pseudo-term whose *term frequency* carries the
float feature value: ``freq = floatToIntBits(v) >>> 15`` (:164-166), decoded
as ``intBitsToFloat(freq << 15)`` (:209-218).  The posting list then reuses
the entire inverted-index machinery — compression, skip data, impacts — and
block-max pruning works because every score function is monotone increasing
in freq.  This module does exactly the same on the Spark engine: a feature
field is one extra set of posting rows (term = ``"\\x00feat\\x00" + name``),
built from a (docid, value) DataFrame and unioned into the index tables, so
it shuffles/persists/compacts like any other term.

Score functions (FeatureField.java):
  linear     w * S                                   (:236-237)
  log        (float)(w * Math.log(a + S))            (:308-310)
  saturation w * (1 - k / (S + k))                   (:380-386, the
             rounding-monotone rewrite of w * S/(S+k))
  sigmoid    (float)(w * (1 - k^a / (S^a + k^a)))    (:444-450)

The Spark build path: the feature values are packed into the build's partial
chunks and encoded by its ``merge_partials_stage`` — the pseudo-term's
postings are segment-range partitioned exactly like text terms, so at 10^12
docs the feature field adds one vocabulary row per segment, not a new
shuffle topology.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_PREFIX = "\x00feat\x00"

# FeatureField.java:207 — MAX_FREQ = floatToIntBits(Float.MAX_VALUE) >>> 15
MAX_FREQ = np.float32(np.finfo(np.float32).max).view(np.uint32) >> 15


def feature_term(name: str) -> str:
    """Pseudo-term for a feature field (the \\0 prefix cannot be produced by
    the analyzer, so feature postings never collide with text terms)."""
    return FEATURE_PREFIX + name


def encode_feature_np(values: np.ndarray) -> np.ndarray:
    """float feature values → int64 freqs (FeatureField.java:164-166).

    Values must be positive and finite (FeatureField.setFeatureValue
    contract); raises ValueError otherwise.
    """
    v = np.asarray(values, dtype=np.float32)
    if not np.all(np.isfinite(v)) or np.any(v <= 0):
        raise ValueError("feature values must be positive and finite")
    return (v.view(np.uint32) >> np.uint32(15)).astype(np.int64)


def decode_feature_np(freqs: np.ndarray) -> np.ndarray:
    """int freqs → float32 feature values (FeatureField.decodeFeatureValue,
    FeatureField.java:209-218)."""
    tf = np.asarray(freqs, dtype=np.uint32)
    out = (tf << np.uint32(15)).view(np.float32).copy()
    out[np.asarray(freqs) > MAX_FREQ] = np.finfo(np.float32).max
    return out


class FeatureScorer:
    """SimScorer over an encoded feature freq — interface-compatible with
    BM25Scorer (score_from_dl / max_score / weight) so the query kernels and
    the windowed block-max pruning treat a feature clause like any term
    clause.  Ignores the length channel (FeatureQuery.java:135-136 scores
    with norm=1).

    ``precision='lucene'`` mirrors the reference float32 expressions;
    ``precision='float64'`` computes in doubles on the decoded float32 value
    (SQL-replicable when the feature value round-trips the 15-bit mantissa
    truncation exactly — e.g. integer-valued features < 512).
    """

    def __init__(self, fn: str, params: dict | None = None,
                 precision: str = "lucene"):
        params = params or {}
        self.fn = fn
        self.precision = precision
        boost = float(params.get("boost", 1.0))
        self.weight = np.float32(boost) if precision == "lucene" else boost
        if fn == "log":
            self.a = float(params.get("scaling_factor", 1.0))
            if self.a < 1.0:
                raise ValueError("log scaling factor must be >= 1")
        elif fn == "saturation":
            self.pivot = float(params["pivot"])
            if self.pivot <= 0:
                raise ValueError("saturation pivot must be > 0")
        elif fn == "sigmoid":
            self.pivot = float(params["pivot"])
            self.exp = float(params["exp"])
            if self.pivot <= 0 or self.exp <= 0:
                raise ValueError("sigmoid pivot and exp must be > 0")
        elif fn != "linear":
            raise ValueError(f"unknown feature function {fn!r}")

    def _score_values(self, v: np.ndarray) -> np.ndarray:
        if self.precision == "lucene":
            w = self.weight  # float32
            v = v.astype(np.float32)
            if self.fn == "linear":
                return (w * v).astype(np.float32)
            if self.fn == "log":
                # (float)(w * Math.log(a + S)): double log, float cast
                return (np.float64(w) * np.log(np.float64(self.a) + v.astype(np.float64))).astype(np.float32)
            if self.fn == "saturation":
                k = np.float32(self.pivot)
                return (w * (np.float32(1.0) - k / (v + k))).astype(np.float32)
            k_a = np.float64(math.pow(self.pivot, self.exp))
            return (
                np.float64(w)
                * (1.0 - k_a / (np.power(v.astype(np.float64), self.exp) + k_a))
            ).astype(np.float32)
        w = float(self.weight)
        v = v.astype(np.float64)
        if self.fn == "linear":
            return w * v
        if self.fn == "log":
            return w * np.log(self.a + v)
        if self.fn == "saturation":
            return w * (1.0 - self.pivot / (v + self.pivot))
        k_a = math.pow(self.pivot, self.exp)
        return w * (1.0 - k_a / (np.power(v, self.exp) + k_a))

    def score(self, freq: np.ndarray, norm: np.ndarray) -> np.ndarray:
        return self._score_values(decode_feature_np(freq))

    def score_from_dl(self, freq: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return self.score(freq, dl)

    def max_score(self, freqs: np.ndarray, norms: np.ndarray) -> float:
        if len(freqs) == 0:
            return 0.0
        return float(np.max(self.score(np.asarray(freqs), np.asarray(norms))))


def feature_query(name: str, fn: str = "saturation", **params) -> tuple:
    """AST node for a FeatureQuery clause — combine inside or/andn/reqoptn
    nodes like any other clause.  ``params``: pivot=, exp=, scaling_factor=,
    boost= (FeatureField.newSaturationQuery / newLogQuery / newSigmoidQuery /
    newLinearQuery analogs)."""
    return ("feature", name, fn, params)


def add_feature_field(
    index,
    name: str,
    values: DataFrame,
    id_col: str = "docid",
    value_col: str = "value",
):
    """Index a feature field: (docid, value) → pseudo-term posting rows
    unioned into the index (FeatureField indexing path: one term per field
    whose freq encodes the value).

    Each Arrow batch of values is packed into partial chunks and encoded by
    the build's ``merge_partials_stage`` — one shuffle of chunks; feature
    rows land in the same docID-range segments as the text postings, so query
    kernels cogroup them with zero extra topology.  Collection statistics are
    untouched: feature freqs are score encodings, not token counts
    (FeatureField indexes with IndexOptions.DOCS_AND_FREQS but omitNorms and
    no length accounting).
    """
    from .index import (
        PARTIALS_SCHEMA, Index, _pack_partials, _rollup_termdict, merge_partials_stage,
    )

    seg_size = index.seg_size
    term = feature_term(name)

    def pack(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            docid = pdf["docid"].to_numpy(dtype=np.int64)
            o = np.argsort(docid, kind="stable")
            docid = docid[o]
            yield _pack_partials(
                np.full(len(docid), term, dtype=object), docid,
                encode_feature_np(pdf["value"].to_numpy()[o]),
                np.ones(len(docid), dtype=np.int64),  # norm=1 (FeatureQuery.java:135)
                seg_size,
            )

    partials = values.select(
        F.col(id_col).cast("long").alias("docid"),
        F.col(value_col).cast("double").alias("value"),
    ).mapInPandas(pack, schema=PARTIALS_SCHEMA)
    rows = merge_partials_stage(partials, seg_size)
    td_row = _rollup_termdict(rows)
    return Index(
        docs=index.docs,
        postings=index.postings.unionByName(rows),
        termdict=index.termdict.unionByName(td_row),
        norms=index.norms,
        doc_count=index.doc_count,
        sum_total_term_freq=index.sum_total_term_freq,
        seg_size=index.seg_size,
        tombstones=index.tombstones,
    )
