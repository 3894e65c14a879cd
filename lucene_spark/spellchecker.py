"""Classic n-gram SpellChecker + suggester input dictionaries.

Reference: ``suggest/src/java/org/apache/lucene/search/spell/
SpellChecker.java`` (gram1-4 fields with boosted start/end grams,
candidate retrieval capped at 10×numSug, LevenshteinDistance accuracy
filter with the dynamic queue-full threshold, SUGGEST_WHEN_NOT_IN_INDEX /
SUGGEST_MORE_POPULAR / SUGGEST_ALWAYS modes, words shorter than 3 chars
skipped at indexing), ``LevenshteinDistance.java`` (1 − dist/max(len)),
``SuggestWordQueue.java`` + ``SuggestWordScoreComparator.java`` (score,
then freq, then string), and the dictionary adapters ``LuceneDictionary``
(terms of a field), ``HighFrequencyDictionary`` (df/numDocs threshold),
``PlainTextDictionary``, and ``FileDictionary`` (word[<SEP>weight] lines).

The candidate-retrieval cap scores gram matches with an idf·tf-saturation
analog of the reference's BM25 over the gram fields (documented
divergence: only the composition of the 10×numSug candidate pool can
differ, never the distance-ranked output contract).  At corpus scale the
dictionary is term-dictionary-sized; ``suggest_similar_ranked`` /
``suggest_similar_distributed`` run the SAME suggestSimilar contract with
the gram candidate join (``spell_candidates_df``) and the Levenshtein
re-rank (``F.levenshtein``) as DataFrame ops over a full termdict — no
full-vocabulary collect; only the ``num_sug`` result rows reach the
driver.  The in-memory ``SpellChecker`` remains for reference parity
tests (and for the frequency-comparator queue quirk, which the
distributed top-k deliberately does not replicate).
"""

from __future__ import annotations

import functools
import math

__all__ = ["SpellChecker", "levenshtein_distance_score",
           "lucene_dictionary", "high_frequency_dictionary",
           "plain_text_dictionary", "file_dictionary",
           "spell_candidates_df", "suggest_similar_ranked",
           "suggest_similar_distributed"]


def levenshtein_distance_score(target: str, other: str) -> float:
    """spell/LevenshteinDistance.java: 1 − editDistance/max(len)."""
    n, m = len(target), len(other)
    if n == 0 or m == 0:
        return 1.0 if n == m else 0.0
    p = list(range(n + 1))
    for j in range(1, m + 1):
        d = [j] + [0] * n
        t_j = other[j - 1]
        for i in range(1, n + 1):
            cost = 0 if target[i - 1] == t_j else 1
            d[i] = min(d[i - 1] + 1, p[i] + 1, p[i - 1] + cost)
        p = d
    return 1.0 - p[n] / max(n, m)


def _suggest_word_cmp(a: tuple, b: tuple) -> int:
    """SuggestWordScoreComparator / SuggestWordFrequencyComparator on
    (primary, secondary, word) queue entries: both metrics ascend, then the
    lexicographically SMALLER word ranks higher
    (``second.string.compareTo(first.string)``)."""
    if a[:2] != b[:2]:
        return -1 if a[:2] < b[:2] else 1
    return (a[2] < b[2]) - (a[2] > b[2])


_SUGGEST_WORD_KEY = functools.cmp_to_key(_suggest_word_cmp)


def _gram_min(length: int) -> int:
    return 3 if length > 5 else (2 if length == 5 else 1)


def _gram_max(length: int) -> int:
    return 4 if length > 5 else (3 if length == 5 else 2)


def _form_grams(text: str, ng: int) -> list[str]:
    return [text[i:i + ng] for i in range(len(text) - ng + 1)]


class SpellChecker:
    """SpellChecker.java over an in-memory gram table (the spell index is
    dictionary-sized; see spell_candidates_df for the distributed form)."""

    DEFAULT_ACCURACY = 0.5

    def __init__(self, accuracy: float = DEFAULT_ACCURACY,
                 distance=levenshtein_distance_score,
                 b_start: float = 2.0, b_end: float = 1.0,
                 comparator: str = "score"):
        self.accuracy = accuracy
        self.distance = distance
        self.b_start = b_start
        self.b_end = b_end
        # SuggestWordScoreComparator (score, freq, string) or
        # SuggestWordFrequencyComparator (freq, score, string)
        self.comparator = comparator
        self.words: list[str] = []
        self._word_set: set[str] = set()
        # (field, gram) -> {docid: freq}
        self._postings: dict[tuple[str, str], dict[int, int]] = {}

    def index_dictionary(self, words) -> None:
        """indexDictionary: skip words shorter than 3 chars and words
        already present."""
        for word in words:
            if len(word) < 3 or word in self._word_set:
                continue
            doc = len(self.words)
            self.words.append(word)
            self._word_set.add(word)
            for ng in range(_gram_min(len(word)), _gram_max(len(word)) + 1):
                grams = _form_grams(word, ng)
                for i, g in enumerate(grams):
                    post = self._postings.setdefault((f"gram{ng}", g), {})
                    post[doc] = post.get(doc, 0) + 1
                    if i == 0:
                        self._postings.setdefault(
                            (f"start{ng}", g), {})[doc] = 1
                if grams:
                    self._postings.setdefault(
                        (f"end{ng}", grams[-1]), {})[doc] = 1

    def exist(self, word: str) -> bool:
        return word in self._word_set

    def suggest_similar(self, word: str, num_sug: int,
                        user_freq: dict[str, int] | None = None,
                        mode: str = "SUGGEST_WHEN_NOT_IN_INDEX",
                        accuracy: float | None = None) -> list[str]:
        """suggestSimilar.  ``user_freq`` plays the (reader, field) pair's
        docFreq role: a word → document-frequency mapping (build one from
        an index termdict); without it the mode degrades to
        SUGGEST_ALWAYS, like the reference."""
        if accuracy is None:
            accuracy = self.accuracy
        if user_freq is None:
            mode = "SUGGEST_ALWAYS"
        freq = user_freq.get(word, 0) if user_freq is not None else 0
        goal_freq = freq if mode == "SUGGEST_MORE_POPULAR" else 0
        if mode == "SUGGEST_WHEN_NOT_IN_INDEX" and freq > 0:
            return [word]

        # candidate retrieval: idf·tf-saturation over the gram fields,
        # start/end grams boosted (SpellChecker.java:336-357)
        n_docs = max(len(self.words), 1)
        scores: dict[int, float] = {}
        for ng in range(_gram_min(len(word)), _gram_max(len(word)) + 1):
            grams = _form_grams(word, ng)
            if not grams:
                continue
            clauses = [(f"gram{ng}", g, 1.0) for g in grams]
            if self.b_start > 0:
                clauses.append((f"start{ng}", grams[0], self.b_start))
            if self.b_end > 0:
                clauses.append((f"end{ng}", grams[-1], self.b_end))
            for field, g, boost in clauses:
                post = self._postings.get((field, g))
                if not post:
                    continue
                idf = math.log(1 + (n_docs - len(post) + 0.5)
                               / (len(post) + 0.5))
                for doc, tf in post.items():
                    scores[doc] = scores.get(doc, 0.0) \
                        + boost * idf * (tf / (tf + 1.2))
        max_hits = 10 * num_sug
        hits = sorted(scores, key=lambda d: (-scores[d], d))[:max_hits]

        # distance filter + SuggestWordQueue (score, freq, string)
        queue: list[tuple[float, int, str]] = []
        for doc in hits:
            sug = self.words[doc]
            if sug == word:
                continue
            score = self.distance(word, sug)
            if score < accuracy:
                continue
            sug_freq = 0
            if user_freq is not None and mode != "SUGGEST_ALWAYS":
                sug_freq = user_freq.get(sug, 0)
                if (mode == "SUGGEST_MORE_POPULAR"
                        and goal_freq > sug_freq) or sug_freq < 1:
                    continue
            if self.comparator == "frequency":
                entry = (sug_freq, score, sug)
                score_of = lambda e: e[1]  # noqa: E731
            else:
                entry = (score, sug_freq, sug)
                score_of = lambda e: e[0]  # noqa: E731
            if len(queue) < num_sug:
                queue.append(entry)
                queue.sort(key=_SUGGEST_WORD_KEY)
                if len(queue) == num_sug:
                    accuracy = score_of(queue[0])
            elif _suggest_word_cmp(entry, queue[0]) >= 0:
                queue[0] = entry
                queue.sort(key=_SUGGEST_WORD_KEY)
                accuracy = score_of(queue[0])
        return [e[2] for e in sorted(queue, key=_SUGGEST_WORD_KEY, reverse=True)]


# ------------------------------------------- dictionary adapters


def lucene_dictionary(index, field: str | None = None) -> list[str]:
    """LuceneDictionary (spell/LuceneDictionary.java): the distinct terms
    of a field from the index term dictionary, in term order."""
    df = index.termdict
    if field is not None and "field" in df.columns:
        from pyspark.sql import functions as F

        df = df.filter(F.col("field") == field)
    return [r["term"] for r in
            df.select("term").distinct().orderBy("term").collect()]


def high_frequency_dictionary(index, thresh: float,
                              field: str | None = None) -> list[str]:
    """HighFrequencyDictionary: terms whose df/numDocs >= thresh."""
    from pyspark.sql import functions as F

    df = index.termdict
    if field is not None and "field" in df.columns:
        df = df.filter(F.col("field") == field)
    min_df = thresh * index.num_docs
    return [r["term"] for r in
            df.filter(F.col("df") >= min_df)
            .select("term").distinct().orderBy("term").collect()]


def plain_text_dictionary(text: str) -> list[str]:
    """PlainTextDictionary: one word per line."""
    return [ln.strip() for ln in text.splitlines() if ln.strip()]


def file_dictionary(text: str, sep: str = "\t"):
    """FileDictionary: ``word[<sep>weight]`` lines → (word, weight)
    pairs (weight 0 when absent); multi-token entries keep their spaces."""
    out = []
    for ln in text.splitlines():
        ln = ln.strip()
        if not ln:
            continue
        head, _, w = ln.partition(sep)
        try:
            weight = int(w) if w else 0
        except ValueError:
            weight = 0
        out.append((head, weight))
    return out


def spell_candidates_df(spark, words_df, query_word: str, max_hits: int):
    """The SpellChecker candidate join as DataFrame ops for termdict-scale
    dictionaries: explode each dictionary word into its gram rows once
    (materializable), join with the query grams, aggregate idf·tf scores,
    take the top ``max_hits``.  Columns: word, retrieval_score."""
    from pyspark.sql import functions as F

    n = words_df.count()
    lo, hi = _gram_min(len(query_word)), _gram_max(len(query_word))
    qgrams = []
    for ng in range(lo, hi + 1):
        grams = _form_grams(query_word, ng)
        qgrams += [(f"gram{ng}", g, 1.0) for g in grams]
        if grams:
            qgrams.append((f"start{ng}", grams[0], 2.0))
            qgrams.append((f"end{ng}", grams[-1], 1.0))
    qdf = spark.createDataFrame(qgrams, "field string, gram string, "
                                        "boost double")
    grams_df = words_df.select(
        "word",
        F.explode(F.expr(
            "flatten(transform(sequence("
            "  CASE WHEN length(word) > 5 THEN 3 WHEN length(word) = 5 "
            "       THEN 2 ELSE 1 END,"
            "  CASE WHEN length(word) > 5 THEN 4 WHEN length(word) = 5 "
            "       THEN 3 ELSE 2 END), ng -> "
            " transform(sequence(1, length(word) - ng + 1), i -> "
            "  named_struct('field', concat('gram', ng), "
            "               'gram', substr(word, i, ng), "
            "               'pos', i, "
            "               'last', int(i = length(word) - ng + 1)))))"))
        .alias("g")).select(
            "word", F.col("g.field").alias("field"),
            F.col("g.gram").alias("gram"), F.col("g.pos").alias("pos"),
            F.col("g.last").alias("last"))
    start_end = grams_df.filter("pos = 1").withColumn(
        "field", F.regexp_replace("field", "^gram", "start")).union(
        grams_df.filter("last = 1").withColumn(
            "field", F.regexp_replace("field", "^gram", "end")))
    all_grams = grams_df.union(start_end)
    tf = all_grams.groupBy("word", "field", "gram").agg(
        F.count("*").alias("tf"))
    df_counts = tf.groupBy("field", "gram").agg(
        F.countDistinct("word").alias("df"))
    joined = (tf.join(F.broadcast(qdf), ["field", "gram"])
              .join(F.broadcast(df_counts), ["field", "gram"])
              .withColumn("w", F.col("boost")
                          * F.log(1 + (F.lit(n) - F.col("df") + 0.5)
                                  / (F.col("df") + 0.5))
                          * (F.col("tf") / (F.col("tf") + 1.2))))
    # pool cut on the QUANTIZED retrieval score (floor 1e6), word-asc ties:
    # the pool composition is already a documented analog of the reference's
    # BM25 gram retrieval; quantizing makes the cut deterministic across
    # summation orders (and replicable expression-for-expression in DuckDB)
    return (joined.groupBy("word")
            .agg(F.sum("w").alias("retrieval_score"))
            .orderBy(F.floor(F.col("retrieval_score") * 1e6).desc(), "word")
            .limit(max_hits))


def suggest_similar_ranked(spark, words_df, word: str, num_sug: int,
                           mode: str = "SUGGEST_ALWAYS",
                           accuracy: float = SpellChecker.DEFAULT_ACCURACY):
    """suggestSimilar (spell/SpellChecker.java:~380-470) with the candidate
    search running DISTRIBUTED over a termdict-scale dictionary — the scale
    path the in-memory ``SpellChecker`` gates can't take at web scale.

    ``words_df`` columns: ``word`` (+ optional ``freq`` = docFreq, playing
    the (reader, field) pair's role).  No full-vocabulary collect anywhere:
    the gram candidate join runs as DataFrame ops (``spell_candidates_df``),
    the Levenshtein re-rank stays JVM-side (``F.levenshtein``), and only the
    ``num_sug`` result rows ever reach the driver.

    Returns a DataFrame (word, freq, score) ranked like SuggestWordQueue
    under SuggestWordScoreComparator — score desc, freq desc, word asc —
    already limited to ``num_sug``.  The queue's dynamic accuracy raise
    (accuracy := kth score once full) is a pure top-k prune under the score
    comparator, so plain top-``num_sug`` is rank-identical; the frequency
    comparator's cross-metric prune quirk is NOT replicated here (use the
    in-memory form for that)."""
    from pyspark.sql import functions as F

    dict_df = words_df.filter(F.length("word") >= 3)
    has_freq = "freq" in words_df.columns
    if not has_freq:
        mode = "SUGGEST_ALWAYS"
        dict_df = dict_df.withColumn("freq", F.lit(0))
    goal_freq = 0
    if mode in ("SUGGEST_WHEN_NOT_IN_INDEX", "SUGGEST_MORE_POPULAR"):
        row = (words_df.filter(F.col("word") == word)
               .select("freq").limit(1).collect())
        freq = int(row[0]["freq"]) if row else 0
        if mode == "SUGGEST_MORE_POPULAR":
            goal_freq = freq
        elif freq > 0:  # word already in index: the reference returns it
            return (dict_df.filter(F.col("word") == word)
                    .withColumn("score", F.lit(1.0))
                    .select("word", "freq", "score"))

    pool = spell_candidates_df(spark, dict_df, word, 10 * num_sug)
    scored = (pool.join(dict_df, "word")
              .filter(F.col("word") != word)
              .withColumn("dist", F.levenshtein(F.lit(word), F.col("word")))
              .withColumn("score", F.lit(1.0) - F.col("dist")
                          / F.greatest(F.length("word"),
                                       F.lit(float(len(word)))))
              .filter(F.col("score") >= accuracy))
    if has_freq and mode != "SUGGEST_ALWAYS":
        scored = scored.filter(F.col("freq") >= max(1, goal_freq))
    return (scored
            .orderBy(F.desc("score"), F.desc("freq"), F.asc("word"))
            .limit(num_sug)
            .select("word", "freq", "score"))


def suggest_similar_distributed(spark, words_df, word: str, num_sug: int,
                                **kw) -> list[str]:
    """The list[str] convenience wrapper over ``suggest_similar_ranked`` —
    same contract as ``SpellChecker.suggest_similar`` for the score
    comparator, scale-safe."""
    return [r["word"] for r in
            suggest_similar_ranked(spark, words_df, word, num_sug,
                                   **kw).collect()]
