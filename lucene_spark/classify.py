"""Text classification over the index: kNN and Naive Bayes.

References: lucene/classification KNearestNeighborClassifier
(classification/src/java/org/apache/lucene/classification/
KNearestNeighborClassifier.java:60): build a boolean query from the unseen
text's terms, take the top-k BM25 neighbors, majority-vote their class field.
Ties break toward the lexicographically smallest label (deterministic).
SimpleNaiveBayesClassifier (same package, SimpleNaiveBayesClassifier.java:49):
add-1-smoothed multinomial NB whose statistics come from the index itself.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import ENGLISH_STOP_WORDS, analyze
from .index import Index
from .search import _explode_postings, search


def classify_knn(
    index: Index,
    text: str,
    labels: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 10,
    precision: str = "lucene",
    stopwords=ENGLISH_STOP_WORDS,
) -> DataFrame:
    """→ single-row DataFrame (label, votes): majority label of the top-k
    BM25 neighbors of ``text``.  ``labels``: (id_col, label_col) table."""
    spark = labels.sparkSession
    terms = sorted(set(analyze(text, stopwords)))
    if not terms:
        return spark.createDataFrame([], "label string, votes long")
    td = search(index, " ".join(terms), k=k, precision=precision, prune=True)
    if len(td.docids) == 0:
        return spark.createDataFrame([], "label string, votes long")
    ids = [int(d) for d in td.docids]
    return (
        labels.filter(F.col(id_col).isin(ids))
        .groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("votes"))
        .orderBy(F.col("votes").desc(), F.col("label"))
        .limit(1)
    )


def _term_docids(index: Index, terms: list[str]) -> DataFrame:
    """(term, docid) pairs for the given terms — the distributed analog of
    running one TotalHitCountCollector per (word, class) conjunction
    (SimpleNaiveBayesClassifier.java getWordFreqForClass): decode only the
    matched posting rows, emit the term alongside each global docID so ONE
    scan + ONE join replaces |terms| x |classes| searches."""
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "term string, docid long")
    rows = index.postings.filter(F.col("term").isin(sorted(set(terms))))
    # NOTE: the singleton-pulsing sidecar is additive (pulse_index keeps the
    # underlying posting rows), so scanning index.postings alone is complete.
    return _explode_postings(rows, index.seg_size, "term string, docid long")


def classify_naive_bayes(
    index: Index,
    text: str,
    labels: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    normalize: bool = False,
    stopwords=ENGLISH_STOP_WORDS,
) -> DataFrame:
    """SimpleNaiveBayesClassifier analog (classification/src/java/org/apache/
    lucene/classification/SimpleNaiveBayesClassifier.java:49) — per class c:

        score(c) = ln(docFreq(c)) - ln(docsWithClass)                 [log prior]
                 + sum_w  ln( (hits(w,c) + 1)
                              / (avgUniqueTermsPerDoc*docFreq(c) + docsWithClass) )

    summed over EVERY analyzed token occurrence w of ``text`` (duplicates
    count, mirroring the reference's loop over tokenizedText), where
    hits(w,c) = #docs of class c containing w (getWordFreqForClass) and
    avgUniqueTermsPerDoc = sumDocFreq/docCount (getTextTermFreqForClass).
    ``normalize=True`` applies the reference's log-sum-exp softmax
    (normClassificationResults) so scores form a 0-1 distribution.

    Distributed shape: one pruned postings scan for the query's terms + one
    join against the (doc, label) table; everything that reaches the driver
    is O(#classes x #distinct query terms) count rows — no per-class search
    jobs, no full-corpus collect.

    ``labels`` must be keyed by the index's GLOBAL docIDs (same contract as
    :func:`classify_knn`); if your label table is keyed by url, join it
    through ``index.docs`` (docid, url) first.

    Returns (label, score) for every class, ordered score desc, label asc.
    """
    spark = labels.sparkSession
    tokens = analyze(text, stopwords)
    lab = labels.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("docid"), F.col(label_col).alias("label")
    )
    cls_pd = (
        lab.groupBy("label").agg(F.count(F.lit(1)).alias("dwc")).toPandas()
    )
    if len(cls_pd) == 0 or not tokens:
        return spark.createDataFrame([], "label string, score double")
    docs_with_class = int(cls_pd["dwc"].sum())
    # avg # of unique terms per doc: sumDocFreq / docCount over the TEXT
    # field only — on a multi-field index the shared termdict also holds
    # namespaced "field:term" rows, which belong to other fields'
    # statistics (the reference reads per-field Terms.getSumDocFreq for
    # the text field alone)
    sum_doc_freq = int(
        index.termdict.filter(~F.col("term").contains(":"))
        .agg(F.sum("df")).collect()[0][0]
    )
    avg_unique = sum_doc_freq / float(index.doc_count)

    distinct_terms = sorted(set(tokens))
    tok_counts = {t: tokens.count(t) for t in distinct_terms}
    hits_pd = (
        _term_docids(index, distinct_terms)
        .join(lab, "docid")
        .groupBy("term", "label")
        .agg(F.count(F.lit(1)).alias("hits"))
        .toPandas()
    )
    hits = {
        (r.term, r.label): int(r.hits) for r in hits_pd.itertuples(index=False)
    }
    out = []
    for r in cls_pd.itertuples(index=False):
        dwc = int(r.dwc)
        score = math.log(dwc) - math.log(docs_with_class)
        den = avg_unique * dwc + docs_with_class
        for t in distinct_terms:
            num = hits.get((t, r.label), 0) + 1
            score += tok_counts[t] * math.log(num / den)
        out.append((r.label, score))
    if normalize:
        # log-sum-exp softmax (normClassificationResults)
        smax = max(s for _, s in out)
        loga = smax + math.log(sum(math.exp(s - smax) for _, s in out))
        out = [(lb, math.exp(s - loga)) for lb, s in out]
    out.sort(key=lambda p: (-p[1], p[0]))
    return spark.createDataFrame(out, "label string, score double")


def classify_bm25_nb(
    index: Index,
    text: str,
    labels: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    normalize: bool = True,
    stopwords=ENGLISH_STOP_WORDS,
) -> DataFrame:
    """BM25NBClassifier analog (classification/src/java/org/apache/lucene/
    classification/BM25NBClassifier.java:43-231) — "a classifier
    approximating naive bayes ... by using pure queries on BM25":

    - logPrior(c)  = ln(top-1 BM25 score of TermQuery(classField:c))
      (:222-231).  The class field indexes ONE label token per document,
      so its per-field statistics are (N docs, N tokens, avgdl=1) and
      every class-c document scores identically:
      w_c − w_c/(1 + 1/k1), w_c = ln(1 + (N − df_c + 0.5)/(df_c + 0.5)).
    - logLikelihood(c) = Σ_w ln(P(c, w)) over every analyzed token
      occurrence (:199-204), P = top-1 score of (MUST class:c, SHOULD
      text:w) (:206-220): the class clause scores on every class-c doc,
      the word clause adds its text-field BM25 where it matches — so the
      top-1 is classScore_c + max_{doc∈c, doc∋w} BM25_text(w, doc)
      (0 when no class-c doc contains w; P = 1 when the class itself is
      empty, :219).
    - normalize → the reference's log-sum-exp softmax
      (normClassificationResults, :146-174).

    Distributed shape: ONE pruned postings scan over the query's words
    (posting rows decoded to (term, docid, tf)), one join against dl and
    the label table, one (label, term) max aggregation — the driver sees
    O(#classes · #words) rows, never per-class search jobs.  All float64
    (SQL-replicable).
    """
    spark = labels.sparkSession
    tokens = analyze(text, stopwords)
    if not tokens:
        return spark.createDataFrame([], "label string, score double")
    words = sorted(set(tokens))
    tok_counts = {w: tokens.count(w) for w in words}

    n = index.doc_count
    avgdl = index.sum_total_term_freq / float(n)
    lab = labels.select(
        F.col(id_col).alias("docid"), F.col(label_col).alias("label")
    )
    cls_pd = lab.groupBy("label").agg(F.count(F.lit(1)).alias("dfc")).toPandas()

    # class-term BM25 on the one-token-per-doc class field (constant per class)
    inv_cls = 1.0 / (k1 * ((1.0 - b) + b * 1.0 / 1.0))
    cls_score = {}
    for r in cls_pd.itertuples(index=False):
        w_c = math.log(1.0 + (n - int(r.dfc) + 0.5) / (int(r.dfc) + 0.5))
        cls_score[r.label] = w_c - w_c / (1.0 + 1.0 * inv_cls)

    # per-(class, word) max text-field BM25 over that class's docs
    from .search import term_dfs

    dfs = term_dfs(words, index)
    weights = spark.createDataFrame(
        [(t, math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)))
         for t in words if t in dfs] or [("", 0.0)],
        "term string, w double",
    )
    tfs = _term_tfs(index, [t for t in words if t in dfs])
    scored = (
        tfs.join(index.docs.select("docid", "dl"), "docid")
        .join(F.broadcast(weights), "term")
        .withColumn(
            "score",
            F.col("w") - F.col("w") / (
                1.0 + F.col("tf") * (1.0 / (k1 * ((1.0 - b)
                    + b * F.col("dl") / F.lit(avgdl))))
            ),
        )
    )
    mx_pd = (
        scored.join(lab, "docid")
        .groupBy("label", "term")
        .agg(F.max("score").alias("mx"))
        .toPandas()
    )
    mx = {(r.label, r.term): float(r.mx) for r in mx_pd.itertuples(index=False)}

    out = []
    for r in cls_pd.itertuples(index=False):
        cs = cls_score[r.label]
        score = math.log(cs)
        for t in words:
            score += tok_counts[t] * math.log(cs + mx.get((r.label, t), 0.0))
        out.append((r.label, score))
    if normalize:
        smax = max(s for _, s in out)
        loga = smax + math.log(sum(math.exp(s - smax) for _, s in out))
        out = [(lb, math.exp(s - loga)) for lb, s in out]
    out.sort(key=lambda p: (-p[1], p[0]))
    return spark.createDataFrame(out, "label string, score double")


def _term_tfs(index: Index, terms: list[str]) -> DataFrame:
    """(term, docid, tf) for the given terms — _term_docids keeping freqs."""
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "term string, docid long, tf long")
    rows = index.postings.filter(F.col("term").isin(sorted(set(terms))))
    return _explode_postings(rows, index.seg_size, "term string, docid long, tf long")


def classify_knn_fuzzy(
    index: Index,
    text: str,
    labels: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 0,
    precision: str = "float64",
    stopwords=ENGLISH_STOP_WORDS,
) -> DataFrame:
    """KNearestFuzzyClassifier analog (classification/src/java/org/apache/
    lucene/classification/KNearestFuzzyClassifier.java:44-148): top-k
    neighbors under a NearestFuzzyQuery (:136-148) — the FuzzyLikeThis
    machinery with maxEdits=1 (classification/utils/NearestFuzzyQuery.java
    is that query "simplified", same variant scoring) — then majority
    vote on the class field (buildListFromTopDocs).  Returns a single-row
    (label, votes) frame like :func:`classify_knn`."""
    from .search import fuzzy_like_this, search

    spark = labels.sparkSession
    node = fuzzy_like_this(index, text, max_edits=max_edits,
                           prefix_length=prefix_length, analyzer=stopwords,
                           precision=precision)
    if node is None:
        return spark.createDataFrame([], "label string, votes long")
    td = search(index, node, k=k, precision=precision, prune=True)
    if len(td.docids) == 0:
        return spark.createDataFrame([], "label string, votes long")
    ids = [int(d) for d in td.docids]
    return (
        labels.filter(F.col(id_col).isin(ids))
        .groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("votes"))
        .orderBy(F.col("votes").desc(), F.col("label"))
        .limit(1)
    )


def classify_boolean_perceptron(
    index: Index,
    docs: DataFrame,
    text: str,
    text_col: str = "text",
    class_col: str = "cls",
    id_col: str = "doc_id",
    batch_size: int = 1,
    bias: float | None = None,
    stopwords=ENGLISH_STOP_WORDS,
) -> DataFrame:
    """BooleanPerceptronClassifier analog (classification/src/java/org/
    apache/lucene/classification/BooleanPerceptronClassifier.java:58-235):
    an online boolean perceptron whose weights start at each term's
    totalTermFreq (:118-122) and whose bias defaults to
    sumTotalTermFreq/docCount (:99-104).

    Training replays the reference loop exactly: docs with a class value in
    hit order (the training query is a constant-scoring wildcard MUST on
    the class field, :130-136, so every score ties and the order is docid
    asc); each doc is classified with the CURRENT FST snapshot
    (assignClass, :218-235: output = sum of snapshot weights per token
    occurrence, class = output >= bias); on a misclassification
    (modifier = correct.compareTo(assigned), :151-155) every term of the
    doc gets weights[t] = max(0, fst[t] + modifier*tf) — the base value
    read from the possibly-stale FST, not the live map (:195-199) — and
    the FST is rebuilt when batchCount % batchSize == 0 (:156-160).  All
    arithmetic stays in integers (init = cf, updates = ±tf), so the
    reference's longValue() truncation at FST build (:204-215) is exact.

    Distributed shape: the perceptron is the reference's inherently
    sequential online learner, so the weight loop runs on the driver — but
    only over the TRAINING docs' (docid, term, tf) triples, tokenized
    Spark-side with the index analyzer, and only the touched slice of the
    vocabulary (training-doc terms + query tokens) is collected from the
    term dictionary (pushdown isin scan), never the full corpus vocab.

    → one-row DataFrame (assigned boolean, output long, score double):
    score = 1 - exp(-|bias - output|/bias) (:233).
    """
    from .analysis import make_analyze_udf

    spark = docs.sparkSession
    if bias is None or bias == 0.0:
        bias = index.sum_total_term_freq / float(index.doc_count)
    tok_udf = make_analyze_udf(stopwords)
    tr_pdf = (
        docs.filter(F.col(class_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("docid"),
            F.col(class_col).cast("boolean").alias("cls"),
            F.explode(tok_udf(F.col(text_col))).alias("term"),
        )
        .groupBy("docid", "cls", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .toPandas()
    )
    q_tokens = analyze(text, stopwords)
    needed = sorted(set(tr_pdf["term"]) | set(q_tokens))
    cf_rows = (
        index.termdict.filter(~F.col("term").contains(":"))
        .filter(F.col("term").isin(needed))
        .select("term", "cf")
        .collect()
    ) if needed else []
    fst = {r["term"]: int(r["cf"]) for r in cf_rows}
    weights = dict(fst)
    batch_count = 0
    for _, g in tr_pdf.sort_values("docid").groupby("docid", sort=True):
        terms = g["term"].tolist()
        tfs = [int(v) for v in g["tf"].tolist()]
        output = 0
        for t, tfv in zip(terms, tfs):
            d = fst.get(t)
            if d is not None:
                output += d * tfv
        assigned = output >= bias
        correct = bool(g["cls"].iloc[0])
        modifier = int(correct) - int(assigned)
        if modifier != 0:
            for t, tfv in zip(terms, tfs):
                prev = fst.get(t)
                weights[t] = 0 if prev is None else max(0, prev + modifier * tfv)
            if batch_count % batch_size == 0:
                fst = dict(weights)
        batch_count += 1
    output = 0
    for t in q_tokens:
        d = fst.get(t)
        if d is not None:
            output += d
    score = 1.0 - math.exp(-abs(bias - output) / bias)
    return spark.createDataFrame(
        [(bool(output >= bias), int(output), float(score))],
        "assigned boolean, output long, score double",
    )


# ---------------- classification/utils: evaluation + dataset splitting


class ConfusionMatrix:
    """ConfusionMatrixGenerator.ConfusionMatrix (classification/utils/
    ConfusionMatrixGenerator.java:120-260): linearized {actual:
    {predicted: count}} with the reference's accuracy (including its
    per-class true-negative counting), precision, recall, and F-1."""

    def __init__(self, rows):
        """rows: iterable of (actual, predicted, count)."""
        self.matrix: dict[str, dict[str, int]] = {}
        for actual, predicted, count in rows:
            self.matrix.setdefault(actual, {})[predicted] = \
                self.matrix.get(actual, {}).get(predicted, 0) + int(count)

    def precision(self, klass: str) -> float:
        classifications = self.matrix.get(klass)
        tp = den = 0.0
        if classifications is not None:
            tp = float(classifications.get(klass, 0))
            for values in self.matrix.values():
                den += values.get(klass, 0)
        return tp / den if tp > 0 else 0.0

    def recall(self, klass: str) -> float:
        classifications = self.matrix.get(klass)
        tp = fn = 0.0
        if classifications is not None:
            for pred, count in classifications.items():
                if pred == klass:
                    tp += count
                else:
                    fn += count
        return tp / (tp + fn) if tp + fn > 0 else 0.0

    def f1(self, klass: str) -> float:
        r, p = self.recall(klass), self.precision(klass)
        return 2 * p * r / (p + r) if p > 0 and r > 0 else 0.0

    def accuracy(self) -> float:
        tp = tn = tfp = fn = 0.0
        for klass, classifications in self.matrix.items():
            for pred, count in classifications.items():
                if pred == klass:
                    tp += count
                else:
                    fn += count
            for values in self.matrix.values():
                if klass in values:
                    tfp += values[klass]
                else:
                    tn += 1
        return (tp + tn) / (tfp + fn + tn) if tfp + fn + tn else 0.0


def confusion_matrix_df(df, actual_col: str, predicted_col: str):
    """The distributed half of ConfusionMatrixGenerator: one groupBy over
    (actual, predicted) — the matrix is |classes|² rows regardless of
    corpus size.  Returns (DataFrame[actual, predicted, cnt],
    ConfusionMatrix)."""
    from pyspark.sql import functions as F

    counts = (df.groupBy(F.col(actual_col).alias("actual"),
                         F.col(predicted_col).alias("predicted"))
              .agg(F.count("*").alias("cnt"))
              .orderBy("actual", "predicted"))
    cm = ConfusionMatrix((r["actual"], r["predicted"], r["cnt"])
                         for r in counts.collect())
    return counts, cm


def dataset_splitter(df, test_ratio: float, cv_ratio: float,
                     class_col: str, id_col: str):
    """DatasetSplitter (classification/utils/DatasetSplitter.java:45-150):
    stratified train/test/cross-validation split — each class contributes
    its own fractions.  Deterministic (hash of the id column, not a random
    split), so re-runs and resumes see identical partitions; a pure
    projection per output, no shuffle."""
    from pyspark.sql import functions as F

    bucket = (F.pmod(F.xxhash64(F.col(id_col), F.col(class_col)), 1000000)
              / 1000000.0)
    test = df.filter(bucket < test_ratio)
    cv = df.filter((bucket >= test_ratio) & (bucket < test_ratio + cv_ratio))
    train = df.filter(bucket >= test_ratio + cv_ratio)
    return train, test, cv


def doc_term_freq_vectors(docs, vocab=None, id_col: str = "doc_id",
                          text_col: str = "text"):
    """DocToDoubleVectorUtils (classification/utils/DocToDoubleVectorUtils
    .java): per-doc term-frequency vectors.  With ``vocab`` (the field's
    term list, term order) the vector is the vocabulary-aligned sparse
    form (toSparseLocalFreqDoubleArray); without it, the doc's own sorted
    terms (toDenseLocalFreqDoubleArray).  One Arrow pass, no shuffle; the
    vocabulary is broadcast-sized."""
    from pyspark.sql import functions as F

    toks = docs.select(
        id_col,
        F.expr(rf"filter(split(lower({text_col}), '[^a-z0-9]+'), "
               rf"x -> x <> '')").alias("toks"))
    if vocab is None:
        return toks.select(
            id_col,
            F.expr("array_sort(array_distinct(toks))").alias("terms"),
            F.expr("transform(array_sort(array_distinct(toks)), k -> "
                   "cast(size(filter(toks, x -> x = k)) as double))")
            .alias("vector"))
    arr = ", ".join("'" + v.replace("'", "''") + "'" for v in vocab)
    return toks.select(
        id_col,
        F.expr(f"transform(array({arr}), v -> "
               "cast(size(filter(toks, x -> x = v)) as double))")
        .alias("vector"))
