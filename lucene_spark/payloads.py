"""Payloads channel: per-position float signals + PayloadScoreQuery.

Reference semantics reproduced:

- DelimitedPayloadTokenFilter (analysis/common/src/java/org/apache/lucene/
  analysis/payloads/DelimitedPayloadTokenFilter.java:30-58): a token
  "term|payload" splits at the FIRST delimiter; the tail is encoded by a
  PayloadEncoder (FloatEncoder.java parses it as float); tokens without the
  delimiter carry NO payload (null, not 0).  Composition follows the
  reference's canonical usage (whitespace tokenizer feeding the filter —
  StandardTokenizer would split at '|' before the filter could see it):
  whitespace-split -> payload split -> lowercase -> stop filter with
  position increments.
- PayloadScoreQuery (queries/src/java/org/apache/lucene/queries/payloads/
  PayloadScoreQuery.java:47-120): wraps a SpanQuery; every payload at a
  matched span position feeds a PayloadFunction; per doc,
  docScore = aggregate if numPayloadsSeen > 0 else 1
  (Min/Max/Average/SumPayloadFunction.docScore), final score =
  spanScore * payloadScore when includeSpanScore else payloadScore.
  Aggregation runs in float32 steps exactly like the reference's float
  currentScore accumulation.

Spark shape: payloads live in a doc-major sidecar (docid, term, positions,
payloads) — one shuffle-free Arrow pass, docID-range partitioned like the
term-vectors sidecar (the reference itself exposes payloads through term
vectors as well as postings).  Payload floats are stored DECODED (the
PayloadDecoder.FLOAT_DECODER step happens at build time, so queries never
touch bytes).  A payload query is:

  score_docs(span query)  [distributed span scoring, exhaustive — the
                           reference's PayloadSpanWeight has no impacts]
  JOIN sidecar rows of the query terms  [term + docid pushdown scan]
  -> per-doc payload aggregation in one Arrow pass
  -> TakeOrderedAndProject top-k

so at 100 TB the only data moving is the query's own match set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import ENGLISH_STOP_WORDS
from .index import Index
from .search import TopDocs, score_docs

PAYLOAD_SCHEMA = (
    "docid long, term string, positions array<int>, payloads array<float>"
)

PAYLOAD_FUNCTIONS = ("min", "max", "avg", "sum")


def strip_payloads(col, delimiter: str = "|"):
    """Catalyst expression removing "|payload" tails from every token —
    index the SAME field payload-free with this, so postings positions align
    with the sidecar's (both count whitespace tokens)."""
    import re as _re

    return F.regexp_replace(col, _re.escape(delimiter) + r"[^\s]*", "")


def _delimited_analyze(
    text: str, delimiter: str, stopwords
) -> tuple[list[str], list[int], list[float | None]]:
    """whitespace -> first-delimiter payload split (DelimitedPayloadTokenFilter
    .java:44-53) -> lowercase -> stop filter with position increments."""
    terms: list[str] = []
    positions: list[int] = []
    payloads: list[float | None] = []
    pos = -1
    for raw in text.split():
        cut = raw.find(delimiter)
        if cut >= 0:
            term, tail = raw[:cut], raw[cut + len(delimiter):]
            try:
                pay: float | None = float(tail)
            except ValueError:
                pay = None
        else:
            term, pay = raw, None
        term = term.lower()
        pos += 1  # every emitted-by-tokenizer token bumps the position
        if not term or term in stopwords:
            continue  # StopFilter: token (and its payload) dropped, slot kept
        terms.append(term)
        positions.append(pos)
        payloads.append(pay)
    return terms, positions, payloads


def build_payload_sidecar(
    pages: DataFrame,
    text_col: str = "text",
    docid_col: str = "docid",
    delimiter: str = "|",
    stopwords=ENGLISH_STOP_WORDS,
) -> DataFrame:
    """pages(docid, text) -> (docid, term, positions, payloads), one row per
    (doc, term), float32 payloads, None where a token had no payload.
    Shuffle-free (doc-major, partition-local groupby)."""

    def run(batches):
        for pdf in batches:
            ids = pdf[docid_col].to_numpy(dtype=np.int64)
            out = {"docid": [], "term": [], "positions": [], "payloads": []}
            for docid, text in zip(ids.tolist(), pdf[text_col]):
                terms, poss, pays = _delimited_analyze(
                    text if isinstance(text, str) else "", delimiter, stopwords
                )
                if not terms:
                    continue
                order = np.argsort(np.asarray(terms, dtype=object), kind="stable")
                ts = [terms[i] for i in order]
                starts = [0] + [i for i in range(1, len(ts)) if ts[i] != ts[i - 1]]
                bounds = starts + [len(ts)]
                for gi, gs in enumerate(starts):
                    idxs = order[gs:bounds[gi + 1]]
                    out["docid"].append(docid)
                    out["term"].append(ts[gs])
                    out["positions"].append([poss[i] for i in idxs])
                    out["payloads"].append(
                        [None if pays[i] is None else float(np.float32(pays[i]))
                         for i in idxs]
                    )
            yield pd.DataFrame(out)

    return pages.select(docid_col, text_col).mapInPandas(run, schema=PAYLOAD_SCHEMA)


def _agg_payloads(values: np.ndarray, function: str) -> float:
    """PayloadFunction.docScore in float32 steps; caller guarantees
    len(values) > 0 (zero payloads seen scores the default 1 upstream)."""
    v = values.astype(np.float32)
    if function == "min":
        acc = v[0]
        for x in v[1:]:
            acc = min(acc, x)
        return float(acc)
    if function == "max":
        acc = v[0]
        for x in v[1:]:
            acc = max(acc, x)
        return float(acc)
    # avg / sum accumulate in float32 like currentScore += payload
    acc = np.float32(0.0)
    for x in v:
        acc = np.float32(acc + x)
    if function == "avg":
        return float(np.float32(acc / np.float32(len(v))))
    return float(acc)


def _payload_doc_scores(
    rows: DataFrame, function: str, phrase: list[str] | None = None
) -> DataFrame:
    """(docid, pscore) from sidecar rows.  ``phrase=None``: term mode — every
    occurrence's payload feeds the function.  ``phrase=[a, b, ...]``: ordered
    adjacent span mode (PayloadNearQuery pattern, slop=0 in-order): payloads
    collected at every member position of every matched span, in span order
    (PayloadSpanCollector walk)."""
    fn = function

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        docid = int(pdf["docid"].iloc[0])
        if phrase is None:
            # Arrow surfaces array nulls as NaN in float lists
            vals = [p for plist in pdf["payloads"] for p in plist
                    if p is not None and not pd.isna(p)]
        else:
            by_term = {
                t: (np.asarray(pos, dtype=np.int64), list(pays))
                for t, pos, pays in zip(pdf["term"], pdf["positions"], pdf["payloads"])
            }
            if any(t not in by_term for t in phrase):
                return pd.DataFrame({"docid": [], "pscore": []})
            p0, pay0 = by_term[phrase[0]]
            starts = p0
            for off, t in enumerate(phrase[1:], start=1):
                pt, _ = by_term[t]
                starts = starts[np.isin(starts + off, pt)]
            if len(starts) == 0:
                return pd.DataFrame({"docid": [], "pscore": []})
            vals = []
            for s in np.sort(starts):
                for off, t in enumerate(phrase):
                    pt, payt = by_term[t]
                    j = int(np.searchsorted(pt, s + off))
                    pv = payt[j]
                    if pv is not None and not pd.isna(pv):
                        vals.append(pv)
        if not vals:
            # zero payloads seen -> docScore default 1 (PayloadFunction)
            return pd.DataFrame({"docid": [docid], "pscore": [1.0]})
        return pd.DataFrame(
            {"docid": [docid], "pscore": [_agg_payloads(np.asarray(vals), fn)]}
        )

    return rows.groupBy("docid").applyInPandas(
        per_doc, schema="docid long, pscore double"
    )


def payload_score_topk(
    index: Index,
    sidecar: DataFrame,
    terms: str | list[str],
    function: str = "max",
    include_span_score: bool = True,
    k: int = 10,
    precision: str = "lucene",
    k1: float = 1.2,
    b: float = 0.75,
) -> TopDocs:
    """PayloadScoreQuery top-k.  ``terms``: a single term (SpanTermQuery
    wrap) or an ordered adjacent term list (SpanNearQuery slop=0 in-order —
    the PayloadNearQuery pattern).  ``function``: min/max/avg/sum.
    ``include_span_score=False`` reproduces the constant-payload-only mode
    (PayloadScoreQuery.java PayloadSpanScorer.scoreCurrentDoc)."""
    if function not in PAYLOAD_FUNCTIONS:
        raise ValueError(f"function must be one of {PAYLOAD_FUNCTIONS}")
    term_list = [terms] if isinstance(terms, str) else list(terms)
    phrase = None if len(term_list) == 1 else term_list
    from .spans import span_near

    # single term wraps as a 1-sub span_near (rewrites to an or-of-one-term
    # span — the SpanTermQuery execution path)
    node = span_near(term_list, slop=0, ordered=True)
    spark = sidecar.sparkSession
    rows = sidecar.filter(F.col("term").isin(term_list))
    pscores = _payload_doc_scores(rows, function, phrase)
    if include_span_score:
        sscores = score_docs(index, node, precision=precision, k1=k1, b=b)
        joined = sscores.join(pscores, "docid").select(
            "docid", (F.col("score") * F.col("pscore")).alias("score")
        )
    else:
        # still restricted to SPAN matches (a doc whose terms never form the
        # span must not score) — semi-join against the span match set
        matches = score_docs(index, node, precision=precision, k1=k1, b=b)
        joined = pscores.join(matches.select("docid"), "docid", "left_semi").select(
            "docid", F.col("pscore").alias("score")
        )
    out = joined.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k).collect()
    if not out:
        return TopDocs(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    docids = np.array([r["docid"] for r in out], dtype=np.int64)
    scores = np.array([r["score"] for r in out], dtype=np.float64)
    order = np.lexsort((docids, -scores))[:k]
    return TopDocs(docids[order], scores[order])


_PAYLOAD_OPS = {
    "eq": lambda a, b: a == b,
    "gt": lambda a, b: a > b,
    "gte": lambda a, b: a >= b,
    "lt": lambda a, b: a < b,
    "lte": lambda a, b: a <= b,
}


def payload_check_docs(
    sidecar: DataFrame,
    terms: list[str],
    payload_to_match: list[float | None],
    operation: str = "eq",
) -> DataFrame:
    """SpanPayloadCheckQuery (queries/payloads/SpanPayloadCheckQuery.java:
    80-240): keep docs where some ordered-adjacent occurrence of ``terms``
    carries payloads matching ``payload_to_match`` position-by-position
    under ``operation`` (EQ/GT/GTE/LT/LTE; None in the reference list
    requires an ABSENT payload, PayloadChecker.collectLeaf).  Sidecar
    floats are the decoded payloads; docs are returned with the count of
    accepted spans.  One term-pruned scan + one Arrow pass — scale-safe."""
    if operation not in _PAYLOAD_OPS:
        raise ValueError(f"operation must be one of {sorted(_PAYLOAD_OPS)}")
    if len(payload_to_match) != len(terms):
        raise ValueError("payloadToMatch must align with the span terms")
    op = _PAYLOAD_OPS[operation]
    want = list(payload_to_match)
    term_list = list(terms)
    rows = sidecar.filter(F.col("term").isin(term_list))
    schema = "docid long, accepted int"

    def check(pdfs):
        import pandas as pd

        for pdf in pdfs:
            out_docs, out_cnt = [], []
            for docid, grp in pdf.groupby("docid"):
                per_term = {
                    t: dict(zip(list(pos), list(pay)))
                    for t, pos, pay in zip(grp["term"], grp["positions"], grp["payloads"])
                }
                first = per_term.get(term_list[0])
                if first is None:
                    continue
                accepted = 0
                for p0 in first:
                    ok = True
                    for j, t in enumerate(term_list):
                        pos_map = per_term.get(t)
                        if pos_map is None or (p0 + j) not in pos_map:
                            ok = False
                            break
                        got = pos_map[p0 + j]
                        ref = want[j]
                        # an absent payload arrives as None or NaN
                        # (float32 through Arrow), never a float subclass
                        absent = got is None or got != got
                        if ref is None:
                            ok = absent
                        elif absent:
                            ok = False
                        else:
                            ok = op(float(got), float(ref))
                        if not ok:
                            break
                    if ok:
                        accepted += 1
                if accepted:
                    out_docs.append(docid)
                    out_cnt.append(accepted)
            yield pd.DataFrame({"docid": out_docs, "accepted": out_cnt})

    return rows.mapInPandas(check, schema)


def payload_span_util(sidecar: DataFrame, terms: list[str]) -> DataFrame:
    """PayloadSpanUtil (queries/payloads/PayloadSpanUtil.java:50-120):
    collect the payloads at every matched position of an ordered-adjacent
    span — (docid, position, term, payload) rows for the span's member
    terms where the full span matches at that start position."""
    term_list = list(terms)
    rows = sidecar.filter(F.col("term").isin(term_list))
    schema = "docid long, position int, term string, payload float"

    def collect(pdfs):
        import pandas as pd

        for pdf in pdfs:
            out = {"docid": [], "position": [], "term": [], "payload": []}
            for docid, grp in pdf.groupby("docid"):
                per_term = {
                    t: dict(zip(list(pos), list(pay)))
                    for t, pos, pay in zip(grp["term"], grp["positions"], grp["payloads"])
                }
                first = per_term.get(term_list[0])
                if first is None:
                    continue
                for p0 in sorted(first):
                    positions = [p0 + j for j in range(len(term_list))]
                    if all(t in per_term and p in per_term[t]
                           for t, p in zip(term_list, positions)):
                        for t, p in zip(term_list, positions):
                            pay = per_term[t][p]
                            out["docid"].append(docid)
                            out["position"].append(int(p))
                            out["term"].append(t)
                            out["payload"].append(
                                None if pay is None or pay != pay
                                else float(pay))
            yield pd.DataFrame(out)

    return rows.mapInPandas(collect, schema)
