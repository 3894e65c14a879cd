"""ValueSource / FunctionQuery framework — composable per-document value
trees compiled to Catalyst expressions.

Reference semantics (queries/src/java/org/apache/lucene/queries/function):

- ``ValueSource.java:42`` — "Instantiates FunctionValues for a particular
  reader": a per-document double.  Sources compose into trees
  (valuesource/*.java); we compile the tree to ONE Catalyst SQL expression
  over a per-doc frame, so evaluation is whole-stage-codegen JVM work —
  no Python touches per-doc values.
- ``FunctionQuery.java:33-120`` — matches ALL documents
  (``DocIdSetIterator.all``, :110), score = boost * value.
- ``FunctionRangeQuery.java:32-64`` — matches docs whose value falls in
  [lower, upper] with includeLower/includeUpper; "The score is the float
  value" (:32).
- ``FunctionMatchQuery.java:38-107`` — docs where a DoublePredicate
  matches; constant score = boost (ConstantScoreWeight, :89).
- Leaf/function nodes mirrored here (file: valuesource/<Name>.java):
  ConstValueSource, Double/Int/Long/FloatFieldSource (doc values),
  LinearFloatFunction (slope*x+intercept), ReciprocalFloatFunction
  (a/(m*x+b), :66-67), RangeMapFloatFunction (:29 "values ... within min
  and max inclusive to target", else default or the value itself),
  ScaleFloatFunction (:30-36 — traverses ALL source values for corpus
  min/max, skipping docs with no value, then maps linearly to
  [min,max]), Sum/Product/Max/Min-FloatFunction (MultiFloatFunction),
  Div/Pow-FloatFunction (DualFloatFunction), IfFunction (ternary),
  QueryValueSource (query score, defVal when no match),
  DocFreqValueSource / IDFValueSource (ClassicSimilarity idf,
  IDFValueSource.java:56-58), TFValueSource (similarity.tf(freq)=sqrt,
  TFValueSource.java:138-157, tf(0) for non-matches), TermFreqValueSource
  (raw freq), TotalTermFreqValueSource / SumTotalTermFreqValueSource /
  NumDocsValueSource / MaxDocValueSource (index-stat constants),
  NormValueSource (TFIDF decodeNormValue: 1/sqrt(SmallFloat.byte4ToInt)),
  ComparisonBoolFunction / SimpleBoolFunction / MultiBoolFunction
  (gt/lt/gte/lte/eq, and/or/not), DefFunction (first defined value).

Spark-first design: index-wide statistics (df, idf, cf, maxDoc, scale
min/max) bind to LITERALS at weight-creation time — exactly the
reference's createWeight-time resolution (IDFValueSource.java:56 computes
idf once per searcher, ScaleFloatFunction traverses once per reader).
Per-doc channels (doc values columns, query scores, per-term tf, norms)
become docid-keyed left joins that Catalyst prunes and (for query-sparse
sides) broadcast-joins; the tree itself is one codegen'd projection.
At 100 TB the frame is a column-pruned scan of the docs table plus
match-set-sized side joins — never a collect, never a Python row loop.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index import Index
from .smallfloat import byte4_to_int

__all__ = [
    "const", "field", "linear", "recip", "rangemap", "scale", "vs_sum",
    "vs_product", "vs_max", "vs_min", "vs_div", "vs_pow", "vs_if",
    "query_vs", "docfreq", "join_docfreq", "idf", "tf", "termfreq", "totaltermfreq",
    "sumtotaltermfreq", "numdocs", "maxdoc", "norm", "vs_cmp", "vs_and",
    "vs_or", "vs_not", "vs_def", "function_query", "function_range_query",
    "function_match_query", "bind",
]


# ------------------------------------------------------------------ tree


class ValueSource:
    """Base node; ``sql(ctx)`` emits a Catalyst SQL fragment (double)."""

    def sql(self, ctx: "_Ctx") -> str:  # pragma: no cover - abstract
        raise NotImplementedError


class _Const(ValueSource):
    def __init__(self, v: float):
        self.v = float(v)

    def sql(self, ctx):
        return f"CAST({self.v!r} AS DOUBLE)"


class _Field(ValueSource):
    """Int/Long/Float/DoubleFieldSource — a doc-values column by name."""

    def __init__(self, name: str):
        self.name = name

    def sql(self, ctx):
        ctx.need_value_col(self.name)
        return f"CAST(`{self.name}` AS DOUBLE)"


class _JoinDocFreq(ValueSource):
    """JoinDocFreqValueSource (queries/function/valuesource/
    JoinDocFreqValueSource.java:40-47 — "the docFreq of a term fetched
    from a doc's own field value", the cross-field join): per doc, look
    the doc's ``name`` value up in the term dictionary; missing terms →
    0 (TermsEnum miss)."""

    def __init__(self, name: str):
        self.name = name

    def sql(self, ctx):
        col = ctx.join_field_df(self.name)
        return f"CAST(COALESCE(`{col}`, 0) AS DOUBLE)"


class _Linear(ValueSource):
    def __init__(self, source, slope, intercept):
        self.source, self.slope, self.intercept = source, float(slope), float(intercept)

    def sql(self, ctx):
        return f"({self.slope!r} * ({self.source.sql(ctx)}) + {self.intercept!r})"


class _Recip(ValueSource):
    """ReciprocalFloatFunction.java:66-67 — a/(m*x+b)."""

    def __init__(self, source, m, a, b):
        self.source, self.m, self.a, self.b = source, float(m), float(a), float(b)

    def sql(self, ctx):
        return f"({self.a!r} / ({self.m!r} * ({self.source.sql(ctx)}) + {self.b!r}))"


class _RangeMap(ValueSource):
    """RangeMapFloatFunction.java:29-54 — in [min,max] → target, else
    default (or the source value itself when default is None)."""

    def __init__(self, source, lo, hi, target, default=None):
        self.source, self.lo, self.hi = source, float(lo), float(hi)
        self.target = target
        self.default = default

    def sql(self, ctx):
        s = self.source.sql(ctx)
        d = self.default.sql(ctx) if self.default is not None else s
        return (f"(CASE WHEN ({s}) >= {self.lo!r} AND ({s}) <= {self.hi!r} "
                f"THEN ({self.target.sql(ctx)}) ELSE ({d}) END)")


class _Scale(ValueSource):
    """ScaleFloatFunction.java:30-90 — corpus min/max of the source
    (one traversal, docs with no value skipped), then linear map to
    [min,max].  The traversal is a Spark aggregation at bind time."""

    def __init__(self, source, lo, hi):
        self.source, self.lo, self.hi = source, float(lo), float(hi)

    def sql(self, ctx):
        src_min, src_max = ctx.minmax(self.source)
        s = self.source.sql(ctx)
        span = src_max - src_min
        if span == 0.0:
            # all values equal → everything maps to the range floor
            # (vals - minSource) * (max-min) / 0 is avoided in the
            # reference by minVal==maxVal ⇒ scale==0 semantics
            return f"CAST({self.lo!r} AS DOUBLE)"
        return (f"((({s}) - {src_min!r}) * "
                f"{(self.hi - self.lo) / span!r} + {self.lo!r})")


class _Dual(ValueSource):
    """DualFloatFunction analogs: div (DivFloatFunction a/b), pow
    (PowFloatFunction a^b)."""

    def __init__(self, op, a, b):
        self.op, self.a, self.b = op, a, b

    def sql(self, ctx):
        a, b = self.a.sql(ctx), self.b.sql(ctx)
        if self.op == "div":
            return f"(({a}) / ({b}))"
        return f"POWER(({a}), ({b}))"


class _Multi(ValueSource):
    """MultiFloatFunction analogs: sum, product, max (greatest), min."""

    def __init__(self, op, sources):
        self.op, self.sources = op, list(sources)

    def sql(self, ctx):
        parts = [f"({s.sql(ctx)})" for s in self.sources]
        if self.op == "sum":
            return "(" + " + ".join(parts) + ")"
        if self.op == "product":
            return "(" + " * ".join(parts) + ")"
        fn = "GREATEST" if self.op == "max" else "LEAST"
        return f"{fn}({', '.join(parts)})"


class _If(ValueSource):
    """IfFunction.java — ifSource exists/true → trueSource else falseSource."""

    def __init__(self, test, then, otherwise):
        self.test, self.then, self.otherwise = test, then, otherwise

    def sql(self, ctx):
        return (f"(CASE WHEN ({self.test.sql(ctx)}) <> 0.0 "
                f"THEN ({self.then.sql(ctx)}) "
                f"ELSE ({self.otherwise.sql(ctx)}) END)")


class _Cmp(ValueSource):
    """ComparisonBoolFunction — emits 1.0/0.0 (BoolFunction's float view)."""

    OPS = {"gt": ">", "lt": "<", "gte": ">=", "lte": "<=", "eq": "="}

    def __init__(self, op, a, b):
        self.op, self.a, self.b = self.OPS[op], a, b

    def sql(self, ctx):
        return (f"(CASE WHEN ({self.a.sql(ctx)}) {self.op} "
                f"({self.b.sql(ctx)}) THEN 1.0 ELSE 0.0 END)")


class _BoolOp(ValueSource):
    """MultiBoolFunction (and/or) + SimpleBoolFunction (not)."""

    def __init__(self, op, sources):
        self.op, self.sources = op, list(sources)

    def sql(self, ctx):
        parts = [f"(({s.sql(ctx)}) <> 0.0)" for s in self.sources]
        if self.op == "not":
            return f"(CASE WHEN NOT {parts[0]} THEN 1.0 ELSE 0.0 END)"
        glue = " AND " if self.op == "and" else " OR "
        return f"(CASE WHEN {glue.join(parts)} THEN 1.0 ELSE 0.0 END)"


class _Def(ValueSource):
    """DefFunction — the first source with a defined (non-null) value."""

    def __init__(self, sources):
        self.sources = list(sources)

    def sql(self, ctx):
        return "COALESCE(" + ", ".join(f"({s.sql(ctx)})" for s in self.sources) + ")"


class _QueryVS(ValueSource):
    """QueryValueSource — the wrapped query's score, defVal on no match."""

    def __init__(self, query, defval=0.0):
        self.query, self.defval = query, float(defval)

    def sql(self, ctx):
        col = ctx.join_query(self.query)
        return f"COALESCE(CAST(`{col}` AS DOUBLE), CAST({self.defval!r} AS DOUBLE))"


class _TermStat(ValueSource):
    """createWeight-time constants from the term dictionary / stats:
    docfreq, idf (ClassicSimilarity: ln((docCount+1)/(df+1)) + 1,
    TFIDFSimilarity.idf), totaltermfreq, sumtotaltermfreq, numdocs,
    maxdoc."""

    def __init__(self, kind, term=None):
        self.kind, self.term = kind, term

    def sql(self, ctx):
        v = ctx.term_stat(self.kind, self.term)
        return f"CAST({float(v)!r} AS DOUBLE)"


class _TF(ValueSource):
    """TFValueSource.java:138-157 — similarity.tf(freq) = sqrt(freq)
    (ClassicSimilarity), tf(0)=0 for non-matching docs; ``raw=True`` is
    TermFreqValueSource (the unscaled freq)."""

    def __init__(self, term, raw=False):
        self.term, self.raw = term, raw

    def sql(self, ctx):
        col = ctx.join_tf(self.term)
        base = f"COALESCE(CAST(`{col}` AS DOUBLE), 0.0)"
        return base if self.raw else f"SQRT({base})"


class _Norm(ValueSource):
    """NormValueSource — TFIDFSimilarity.decodeNormValue over the stored
    norm byte: 1/sqrt(SmallFloat.byte4ToInt(norm))."""

    def sql(self, ctx):
        ctx.need_norm = True
        return "COALESCE(CAST(`_vs_norm` AS DOUBLE), 0.0)"


# ------------------------------------------------------- public builders

def const(v):
    return _Const(v)


def join_docfreq(name):
    """JoinDocFreqValueSource factory."""
    return _JoinDocFreq(name)


def field(name):
    return _Field(name)


def linear(source, slope, intercept):
    return _Linear(source, slope, intercept)


def recip(source, m, a, b):
    return _Recip(source, m, a, b)


def rangemap(source, lo, hi, target, default=None):
    t = target if isinstance(target, ValueSource) else _Const(target)
    d = None if default is None else (
        default if isinstance(default, ValueSource) else _Const(default))
    return _RangeMap(source, lo, hi, t, d)


def scale(source, lo, hi):
    return _Scale(source, lo, hi)


def vs_sum(*sources):
    return _Multi("sum", sources)


def vs_product(*sources):
    return _Multi("product", sources)


def vs_max(*sources):
    return _Multi("max", sources)


def vs_min(*sources):
    return _Multi("min", sources)


def vs_div(a, b):
    return _Dual("div", a, b)


def vs_pow(a, b):
    return _Dual("pow", a, b)


def vs_if(test, then, otherwise):
    return _If(test, then, otherwise)


def query_vs(query, defval=0.0):
    return _QueryVS(query, defval)


def docfreq(term):
    return _TermStat("docfreq", term)


def idf(term):
    return _TermStat("idf", term)


def totaltermfreq(term):
    return _TermStat("totaltermfreq", term)


def sumtotaltermfreq():
    return _TermStat("sumtotaltermfreq")


def numdocs():
    return _TermStat("numdocs")


def maxdoc():
    return _TermStat("maxdoc")


def tf(term):
    return _TF(term)


def termfreq(term):
    return _TF(term, raw=True)


def norm():
    return _Norm()


def vs_cmp(op, a, b):
    return _Cmp(op, a, b)


def vs_and(*sources):
    return _BoolOp("and", sources)


def vs_or(*sources):
    return _BoolOp("or", sources)


def vs_not(source):
    return _BoolOp("not", [source])


def vs_def(*sources):
    return _Def(sources)


# ------------------------------------------------------------- binding


class _Ctx:
    def __init__(self, index: Index, values: DataFrame | None,
                 precision: str = "float64"):
        self.index = index
        self.values = values
        self.precision = precision
        self.value_cols: set[str] = set()
        self.joins: list[tuple[DataFrame, str]] = []  # (frame, value col)
        self.need_norm = False
        self._n = 0

    def need_value_col(self, name: str):
        if self.values is None or name not in self.values.columns:
            raise KeyError(f"value source field '{name}' not in values frame")
        self.value_cols.add(name)

    def join_query(self, query) -> str:
        from .search import score_docs

        self._n += 1
        col = f"_vs_q{self._n}"
        sd = score_docs(self.index, query, precision=self.precision)
        self.joins.append((sd.withColumnRenamed("score", col), col))
        return col

    def join_field_df(self, name: str) -> str:
        """JoinDocFreqValueSource channel: the doc's OWN value of column
        ``name`` looked up in the term dictionary for its docFreq — one
        docid-keyed join through (value, df), no per-row lookups."""
        if self.values is None or name not in self.values.columns:
            raise KeyError(f"value source field '{name}' not in values frame")
        self._n += 1
        col = f"_vs_jdf{self._n}"
        td = self.index.termdict.select(
            F.col("term").alias(name), F.col("df").alias(col))
        jf = (self.values.select("docid", name)
              .join(td, name).select("docid", col))
        self.joins.append((jf, col))
        return col

    def join_tf(self, term: str) -> str:
        self._n += 1
        col = f"_vs_tf{self._n}"
        self.joins.append(
            (_term_tf_frame(self.index, term).withColumnRenamed("tf", col), col))
        return col

    def term_stat(self, kind: str, term: str | None) -> float:
        idx = self.index
        if kind == "numdocs" or kind == "maxdoc":
            # no deletes-aware distinction in this engine: docCount==maxDoc
            return float(idx.doc_count)
        if kind == "sumtotaltermfreq":
            return float(idx.sum_total_term_freq)
        df_, cf_ = idx.term_stats().lookup([term]).get(term, (0, 0))
        if kind == "docfreq":
            return float(df_)
        if kind == "totaltermfreq":
            return float(cf_)
        # ClassicSimilarity.idf (TFIDFSimilarity.java): ln((n+1)/(df+1)) + 1
        return math.log((idx.doc_count + 1) / (df_ + 1)) + 1.0

    def minmax(self, source: ValueSource) -> tuple[float, float]:
        """ScaleFloatFunction's corpus traversal: min/max of the source
        over all live docs (one Spark agg, createWeight-time)."""
        frame, expr_sql = _bind_frame(self.index, source, self.values,
                                      self.precision)
        row = (frame.select(F.expr(expr_sql).cast("double").alias("v"))
               .filter(F.col("v").isNotNull())
               .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
               .collect()[0])
        return float(row["lo"]), float(row["hi"])


def _term_tf_frame(index: Index, term: str) -> DataFrame:
    """(docid, tf) for one term — decode only the matched postings rows
    (same distributed shape as search.match_any_docs, keeping freqs)."""
    seg_size = index.seg_size
    rows = index.postings.filter(F.col("term") == term)

    def explode(batches):
        from .kernel import TermPostings

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_d, out_t = [], []
            segs = pdf["seg"].to_numpy(dtype=np.int64)
            for i, (_, row) in enumerate(pdf.iterrows()):
                docids, tfs, _ = TermPostings(row, seg_size).decode()
                out_d.append(docids.astype(np.int64) + segs[i] * seg_size)
                out_t.append(tfs.astype(np.int64))
            yield pd.DataFrame({"docid": np.concatenate(out_d),
                                "tf": np.concatenate(out_t)})

    return rows.mapInPandas(explode, schema="docid long, tf long")


# one 256-entry decode table: norm byte → 1/sqrt(byte4ToInt(b))
_NORM_DECODE = [
    (1.0 / math.sqrt(byte4_to_int(b))) if byte4_to_int(b) > 0 else 0.0
    for b in range(256)
]


def _bind_frame(index: Index, source: ValueSource,
                values: DataFrame | None,
                precision: str) -> tuple[DataFrame, str]:
    ctx = _Ctx(index, values, precision)
    expr_sql = source.sql(ctx)
    frame = index.docs.select("docid", "norm")
    if index.tombstones is not None:
        frame = frame.join(index.tombstones.select("docid"), "docid",
                           "left_anti")
    if ctx.value_cols:
        frame = frame.join(
            values.select("docid", *sorted(ctx.value_cols)), "docid", "left")
    for jf, _col in ctx.joins:
        frame = frame.join(jf, "docid", "left")
    if ctx.need_norm:
        decode = F.array(*[F.lit(v) for v in _NORM_DECODE])
        frame = frame.withColumn(
            "_vs_norm", F.element_at(decode, F.col("norm").cast("int") + 1))
    return frame, expr_sql


def bind(index: Index, source: ValueSource,
         values: DataFrame | None = None,
         precision: str = "float64") -> DataFrame:
    """FunctionValues over every live doc: (docid, v) distributed frame."""
    frame, expr_sql = _bind_frame(index, source, values, precision)
    return frame.select(
        "docid", F.expr(expr_sql).cast("double").alias("v"))


# ----------------------------------------------------------- the queries


def function_query(index: Index, source: ValueSource,
                   values: DataFrame | None = None, k: int = 10,
                   boost: float = 1.0):
    """FunctionQuery.java:33-120 — matches ALL docs, score = boost * value
    (missing value scores 0, FunctionValues default).  Top-k is a
    TakeOrderedAndProject over the codegen'd projection."""
    from .funcscore import _take_topk

    vals = bind(index, source, values)
    scored = vals.select(
        "docid",
        (F.coalesce(F.col("v"), F.lit(0.0)) * F.lit(float(boost))).alias("score"),
    )
    return _take_topk(scored, k)


def function_range_query(index: Index, source: ValueSource,
                         lower: float | None = None,
                         upper: float | None = None,
                         include_lower: bool = True,
                         include_upper: bool = True,
                         values: DataFrame | None = None, k: int = 10):
    """FunctionRangeQuery.java:32-64 — docs whose value falls within the
    range; "The score is the float value"."""
    from .funcscore import _take_topk

    vals = bind(index, source, values).filter(F.col("v").isNotNull())
    if lower is not None:
        vals = vals.filter(
            F.col("v") >= lower if include_lower else F.col("v") > lower)
    if upper is not None:
        vals = vals.filter(
            F.col("v") <= upper if include_upper else F.col("v") < upper)
    return _take_topk(vals.select("docid", F.col("v").alias("score")), k)


def function_match_query(index: Index, source: ValueSource,
                         predicate: str,
                         values: DataFrame | None = None, k: int = 10,
                         boost: float = 1.0):
    """FunctionMatchQuery.java:38-107 — docs where ``predicate`` (a SQL
    boolean over ``v``) holds; constant score = boost
    (ConstantScoreWeight, :89)."""
    from .funcscore import _take_topk

    vals = bind(index, source, values).filter(F.col("v").isNotNull())
    hits = vals.filter(F.expr(predicate)).select(
        "docid", F.lit(float(boost)).alias("score"))
    return _take_topk(hits, k)
