"""Autocomplete / suggest over the term dictionary.

Reference: lucene/suggest module — FSTCompletionLookup / AnalyzingSuggester
(suggest/src/java/org/apache/lucene/search/suggest/analyzing/
AnalyzingSuggester.java:121) rank completions of a prefix by weight.  Here the
weight is collection term frequency (cf) from the termdict; the sorted-by-term
parquet layout makes the prefix scan a pruned range read (the FST analog,
SURVEY §4).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index import Index


def suggest_terms(index: Index, prefix: str, n: int = 10) -> DataFrame:
    """Top-n completions of ``prefix`` by (cf desc, term asc)."""
    # escape LIKE metacharacters (default escape char is backslash) so
    # prefixes containing '_' or '%' match literally
    safe = prefix.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    return (
        index.termdict.filter(F.col("term").like(safe + "%"))
        .select("term", "cf")
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(n)
    )


def suggest_fuzzy(index: Index, text: str, max_edits: int = 1, n: int = 10) -> DataFrame:
    """Spell-correct style suggestions: terms within edit distance, ranked by
    cf (a simple frequency-ranked variant; the faithful DirectSpellChecker
    semantics live in :func:`direct_spell_suggest`)."""
    return (
        index.termdict.filter(F.levenshtein(F.col("term"), F.lit(text)) <= max_edits)
        .select("term", "cf")
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(n)
    )


def _spell_score_col(text: str, n_cp: int, distance):
    """Score column: internal 1 - ed/min(len) or a pluggable StringDistance
    (DirectSpellChecker.setDistance)."""
    if distance is None:
        return (
            F.lit(1.0)
            - F.col("ed").cast("double")
            / F.least(F.length("term"), F.lit(n_cp)).cast("double")
        ).cast("float")
    if isinstance(distance, str):
        fn = {"jaro_winkler": jaro_winkler_distance,
              "ngram": ngram_distance,
              "lucene_levenshtein": lucene_levenshtein_distance}[distance]
    else:
        fn = distance

    @F.pandas_udf("float")
    def _dist(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: float(fn(text, t)))

    return _dist(F.col("term"))


def direct_spell_suggest(
    index: Index,
    text: str,
    num_sug: int = 5,
    max_edits: int = 2,
    min_prefix: int = 1,
    accuracy: float = 0.5,
    threshold_frequency: float = 0.0,
    max_query_frequency: float = 0.01,
    min_query_length: int = 4,
    max_query_length: int = 64,
    suggest_when_in_index: bool = False,
    distance=None,
) -> DataFrame:
    """DirectSpellChecker.suggestSimilar analog — suggest/spell/
    DirectSpellChecker.java:292-468 semantics, distributed:

    - query-length gate (:317-319, defaults minQueryLength=4 :74)
    - SUGGEST_WHEN_NOT_IN_INDEX: empty when the query term is indexed
      (:328-330) unless ``suggest_when_in_index``
    - maxQueryFrequency: empty when the query's df exceeds the absolute
      count (>=1) or ceil(fraction * maxDoc) (:334-338, default 0.01 :81)
    - candidates: Damerau-Levenshtein (transpositions=true — the
      FuzzyTermsEnum is constructed with transpositions at :416) within
      ``max_edits``, sharing a prefix of max(min_prefix, ed-1) with the
      query (:415-416; default minPrefix=1 :63 makes both passes prefix-1)
    - exact query term excluded (:429-431); df must EXCEED the threshold
      frequency (:437-439, thresholdFrequency scaling at :342-347)
    - score = 1 - ed / min(|candidate|, |query|)   (FuzzyTermsEnum.java:
      250-255); candidates below ``accuracy`` dropped (:450-452,
      default 0.5 — SpellChecker.DEFAULT_ACCURACY)
    - order: score desc, df desc, term asc (SuggestWordScoreComparator
      .java:31-53 under reverseOrder), top ``num_sug``.

    ``distance``: None = the internal FuzzyTermsEnum score above
    (DirectSpellChecker.INTERNAL_LEVENSHTEIN); else a StringDistance —
    "jaro_winkler" | "ngram" | "lucene_levenshtein" or any callable
    (query, candidate) -> [0, 1] — applied to the SAME candidate set, the
    setDistance(...) contract (DirectSpellChecker.java:440-446: when the
    distance is not INTERNAL, score = distance.getDistance(term, candidate)
    over the enumerated candidates).

    The reference's two FuzzyTermsEnum passes + numSug*maxInspections
    priority queue are a traversal detail of its term enum; the exact
    global sort here returns the same top-``num_sug`` set.

    Plan shape at scale: prefix + length-band prefilters push to the
    term-sorted parquet scan (the LevenshteinAutomata-intersection analog);
    the Damerau UDF runs on the surviving sliver; TakeOrderedAndProject
    returns ``num_sug`` rows.
    """
    from .search import damerau_levenshtein, term_dfs

    if max_edits < 1 or max_edits > 2:
        raise ValueError("max_edits must be in [1, 2] (LevenshteinAutomata)")
    n_cp = len(text)
    if n_cp < min_query_length or n_cp > max_query_length:
        return _empty_suggestions(index)

    query_df = term_dfs([text], index).get(text, 0)
    if query_df > 0 and not suggest_when_in_index:
        return _empty_suggestions(index)
    max_doc = index.doc_count
    if max_query_frequency >= 1.0:
        if query_df > max_query_frequency:
            return _empty_suggestions(index)
    elif query_df > math.ceil(max_query_frequency * float(max_doc)):
        return _empty_suggestions(index)

    df_floor = 0
    if threshold_frequency >= 1.0:
        df_floor = int(threshold_frequency)
    elif threshold_frequency > 0.0:
        df_floor = int(threshold_frequency * float(max_doc)) - 1

    td = index.termdict.filter(
        F.length("term").between(n_cp - max_edits, n_cp + max_edits)
    ).filter(F.col("term") != text)
    # both reference passes share prefix length max(min_prefix, ed-1);
    # the widest pass bounds the candidate set
    prefix_len = max(min_prefix, 0)
    if prefix_len > 0:
        td = td.filter(F.col("term").startswith(text[:prefix_len]))

    qt, me = text, max_edits

    @F.pandas_udf("int")
    def _ed(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: damerau_levenshtein(t, qt, me))

    out = (
        td.withColumn("ed", _ed(F.col("term")))
        .filter(F.col("ed") <= me)
        # pass-2 of the reference requires prefix max(min_prefix, ed-1):
        # enforce the per-distance prefix for ed == 2 candidates
        .filter(
            (F.col("ed") < 2)
            | F.col("term").startswith(text[: max(min_prefix, 1)])
        )
        # double quotient then one float32 cast (the reference divides in
        # float32, FuzzyTermsEnum.java:254 — ≤1 ulp apart on the small
        # rationals ed/len; the SQL oracle twin evaluates this identical
        # double-then-REAL expression)
        .withColumn("score", _spell_score_col(text, n_cp, distance))
        .filter(F.col("score") >= F.lit(float(accuracy)))
        .filter(F.col("df") > F.lit(df_floor))
        .select("term", "df", "score")
        .orderBy(F.col("score").desc(), F.col("df").desc(), F.col("term"))
        .limit(num_sug)
    )
    return out


def _empty_suggestions(index: Index) -> DataFrame:
    spark = index.termdict.sparkSession
    return spark.createDataFrame([], "term string, df long, score float")


def analyzing_infix_suggest(
    suggestions: DataFrame,
    key: str,
    num: int = 10,
    text_col: str = "text",
    weight_col: str = "weight",
    all_terms_required: bool = True,
    stopwords=None,
    tie_col: str | None = None,
) -> DataFrame:
    """AnalyzingInfixSuggester.lookup analog (suggest/analyzing/
    AnalyzingInfixSuggester.java:504-660): suggestions are (text, weight)
    rows; the key's tokens must appear IN the suggestion text — every token
    but the last matches exactly, the last matches as a PREFIX of any
    suggestion token (:560-584 — TermQuery clauses + a PrefixQuery on the
    last token); ``all_terms_required`` maps clauses to MUST vs SHOULD
    (:216).  Results sort by weight desc (:158 SORT), ties by ``tie_col``
    (the reference leaves ties in index order; pass a column for
    determinism).

    Plan: one Arrow-batched analyze pass over the suggestion table +
    whole-stage-codegen array predicates; TakeOrderedAndProject returns
    ``num`` rows.  At scale the suggestion table is a parquet table and
    this is a single narrow scan."""
    from .analysis import ENGLISH_STOP_WORDS, analyze, make_analyze_udf

    sw = ENGLISH_STOP_WORDS if stopwords is None else stopwords
    toks = analyze(key, sw)
    if not toks:
        return suggestions.limit(0)
    last, full = toks[-1], toks[:-1]
    df = suggestions.withColumn(
        "_toks", make_analyze_udf(sw)(F.col(text_col))
    )
    preds = [F.array_contains("_toks", t) for t in full]
    preds.append(
        F.exists("_toks", lambda x: x.startswith(last))
    )
    if all_terms_required:
        cond = preds[0]
        for p in preds[1:]:
            cond = cond & p
    else:
        cond = preds[0]
        for p in preds[1:]:
            cond = cond | p
    order = [F.col(weight_col).desc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return df.filter(cond).drop("_toks").orderBy(*order).limit(num)


def fuzzy_suggest(
    suggestions: DataFrame,
    key: str,
    num: int = 10,
    max_edits: int = 1,
    non_fuzzy_prefix: int = 1,
    min_fuzzy_length: int = 3,
    transpositions: bool = True,
    text_col: str = "text",
    weight_col: str = "weight",
    stopwords=None,
    tie_col: str | None = None,
) -> DataFrame:
    """FuzzySuggester analog (suggest/analyzing/FuzzySuggester.java:36-90,
    minus the FST): fuzzy-prefix COMPLETION — the key's analyzed tokens
    align with the PREFIX of each suggestion's analyzed token sequence;
    every token but the last matches within Damerau-OSA ``max_edits``
    (reference default 1, transpositions=true :90-99), the LAST key token
    matches the length-|token| prefix of the aligned suggestion token
    within the same distance.  Reference constraints kept: no edits until
    the token reaches ``min_fuzzy_length`` (DEFAULT_MIN_FUZZY_LENGTH=3)
    and the first ``non_fuzzy_prefix`` chars may not be edited
    (DEFAULT_NON_FUZZY_PREFIX=1); results rank weight desc.  Documented
    subset: the reference's Levenshtein automaton runs over the joined
    byte sequence, so edits may cross token boundaries; this token-aligned
    form cannot express those.

    Plan shape: one Arrow analyze pass over the suggestion table + an
    Arrow-batched match predicate; TakeOrderedAndProject returns ``num``
    rows — a narrow scan at any table size."""
    from .analysis import ENGLISH_STOP_WORDS, analyze, make_analyze_udf
    from .search import damerau_levenshtein

    sw = ENGLISH_STOP_WORDS if stopwords is None else stopwords
    qtoks = analyze(key, sw)
    if not qtoks:
        return suggestions.limit(0)
    me, nfp, mfl, tr = max_edits, non_fuzzy_prefix, min_fuzzy_length, transpositions

    def _plain_lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def tok_match(qt: str, st: str, is_last: bool) -> bool:
        cand = st[: len(qt)] if is_last else st
        if qt[:nfp] != cand[:nfp]:
            return False  # non-fuzzy prefix byte(s)
        allowed = me if len(qt) >= mfl else 0
        if allowed == 0:
            return qt == cand
        if tr:
            return damerau_levenshtein(cand, qt, allowed) <= allowed
        return _plain_lev(cand, qt) <= allowed

    @F.pandas_udf("boolean")
    def _match(tok_lists: pd.Series) -> pd.Series:
        def one(toks) -> bool:
            if toks is None or len(toks) < len(qtoks):
                return False
            for i, qt in enumerate(qtoks):
                if not tok_match(qt, toks[i], i == len(qtoks) - 1):
                    return False
            return True

        return tok_lists.map(one)

    df = suggestions.withColumn("_toks", make_analyze_udf(sw)(F.col(text_col)))
    order = [F.col(weight_col).desc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return (
        df.filter(_match(F.col("_toks"))).drop("_toks").orderBy(*order).limit(num)
    )


# --------------------------------------------------- WordBreakSpellChecker


def suggest_word_breaks(
    index: Index,
    text: str,
    max_suggestions: int = 5,
    min_break_word_length: int = 1,
    min_suggestion_frequency: int = 1,
    max_changes: int = 1,
    max_evaluations: int = 1000,
    suggest_when_in_index: bool = False,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordBreaks analog (suggest/spell/
    WordBreakSpellChecker.java:71-142, recursion :248-312): break ``text``
    into indexed words at every split point >= minBreakWordLength from each
    edge; each piece needs df >= minSuggestionFrequency; up to
    ``max_changes`` breaks (default 1 — :34); empty when the term itself is
    indexed (SUGGEST_WHEN_NOT_IN_INDEX, :96-99) unless
    ``suggest_when_in_index``.  Order: fewer words first, then max piece
    frequency desc (LengthThenMaxFreqComparator :333-344; ties broken by
    the word tuple for determinism — the reference's PQ leaves them
    unspecified).  Returns (words array, n_words, freq_max).

    All vocabulary probes for the whole split lattice are batched into ONE
    lookup in the index's term-statistics snapshot (replacing the
    reference's per-candidate ``ir.docFreq`` calls, :300-304); the recursion
    itself walks a lattice of at most len(text)^max_changes candidates
    driver-side.
    """
    from .search import term_dfs

    spark = index.termdict.sparkSession
    empty = spark.createDataFrame(
        [], "words array<string>, n_words int, freq_max long")
    if max_suggestions < 1 or len(text) < 2 * max(min_break_word_length, 1):
        return empty
    subs = {
        text[i:j]
        for i in range(len(text))
        for j in range(i + 1, len(text) + 1)
    }
    dfs = term_dfs(subs, index)
    if dfs.get(text, 0) > 0 and not suggest_when_in_index:
        return empty
    mbw = max(min_break_word_length, 1)
    out: list[tuple[list[str], int]] = []
    state = {"evals": 0}

    def rec(term: str, number_breaks: int, prefix: list[str]):
        # the evaluation budget is GLOBAL (the reference decrements one
        # totalEvaluations across the whole recursion,
        # WordBreakSpellChecker.generateBreakUpSuggestions:251-258) — bail
        # at entry so sibling/parent levels stop too, not just this loop
        if state["evals"] >= max_evaluations:
            return
        n = len(term)
        if n < mbw * 2:
            return
        for i in range(mbw, n - mbw + 1):
            left, right = term[:i], term[i:]
            lf = dfs.get(left, 0)
            if lf >= min_suggestion_frequency:
                rf = dfs.get(right, 0)
                if rf >= min_suggestion_frequency:
                    out.append((prefix + [left, right], 0))
                if number_breaks + 1 <= max_changes:
                    rec(right, number_breaks + 1, prefix + [left])
            state["evals"] += 1
            if state["evals"] >= max_evaluations:
                break

    rec(text, 1, [])
    scored = [
        (words, len(words), max(dfs.get(w, 0) for w in words))
        for words, _ in out
    ]
    scored.sort(key=lambda t: (t[1], -t[2], t[0]))
    return spark.createDataFrame(
        scored[:max_suggestions] or [],
        "words array<string>, n_words int, freq_max long",
    )


def suggest_word_combinations(
    index: Index,
    terms: list[str],
    max_suggestions: int = 5,
    max_combine_word_length: int = 20,
    min_suggestion_frequency: int = 1,
    max_changes: int = 1,
    suggest_when_in_index: bool = False,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordCombinations analog (:145-238):
    concatenate runs of up to ``max_changes``+1 adjacent input terms; the
    combined word needs df >= minSuggestionFrequency, total length <=
    maxCombineWordLength, and (SUGGEST_WHEN_NOT_IN_INDEX, :197) at least one
    constituent absent from the index.  score = #terms combined - 1; order
    score asc then freq desc (CombinationsThenFreqComparator), ties by
    term.  Returns (term, first_idx, last_idx, df, score)."""
    from .search import term_dfs

    spark = index.termdict.sparkSession
    schema = "term string, first_idx int, last_idx int, df long, score int"
    if max_suggestions < 1 or len(terms) < 2:
        return spark.createDataFrame([], schema)
    probes = set(terms)
    for i in range(len(terms) - 1):
        comb = terms[i]
        for j in range(i + 1, min(len(terms), i + max_changes + 1)):
            comb = comb + terms[j]
            probes.add(comb)
    dfs = term_dfs(probes, index)
    rows = []
    for i in range(len(terms) - 1):
        if len(terms[i]) > max_combine_word_length:
            continue
        comb = terms[i]
        min_freq = dfs.get(terms[i], 0)
        for j in range(i + 1, min(len(terms), i + max_changes + 1)):
            comb = comb + terms[j]
            if len(comb) > max_combine_word_length:
                break
            min_freq = min(min_freq, dfs.get(terms[j], 0))
            cdf = dfs.get(comb, 0)
            if (min_freq == 0 or suggest_when_in_index) and (
                cdf >= min_suggestion_frequency
            ):
                rows.append((comb, i, j, cdf, j - i))
    rows.sort(key=lambda t: (t[4], -t[3], t[0]))
    return spark.createDataFrame(rows[:max_suggestions] or [], schema)


# ------------------------------------------------ StringDistance implementations


def jaro_winkler_distance(s1: str, s2: str, threshold: float = 0.7) -> float:
    """JaroWinklerDistance (search/spell/JaroWinklerDistance.java:39-108):
    Jaro similarity with the Winkler common-prefix bonus applied when the
    Jaro score exceeds ``threshold`` (default 0.7; negative = plain Jaro).
    Returns similarity in [0, 1], 1 = identical (StringDistance contract).
    """
    if len(s1) > len(s2):
        mx, mn = s1, s2
    else:
        mx, mn = s2, s1
    rng = max(len(mx) // 2 - 1, 0)
    match_idx = [-1] * len(mn)
    match_flags = [False] * len(mx)
    matches = 0
    for mi, c1 in enumerate(mn):
        for xi in range(max(mi - rng, 0), min(mi + rng + 1, len(mx))):
            if not match_flags[xi] and c1 == mx[xi]:
                match_idx[mi] = xi
                match_flags[xi] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    ms1 = [mn[i] for i in range(len(mn)) if match_idx[i] != -1]
    ms2 = [mx[i] for i in range(len(mx)) if match_flags[i]]
    transpositions = sum(1 for a, b in zip(ms1, ms2) if a != b) // 2
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b:
            break
        prefix += 1
    m = float(matches)
    j = (m / len(s1) + m / len(s2) + (m - transpositions) / m) / 3
    if j < threshold:
        return j
    return j + min(0.1, 1.0 / len(mx)) * prefix * (1 - j)


def ngram_distance(source: str, target: str, n: int = 2) -> float:
    """NGramDistance (search/spell/NGramDistance.java:49-134, Kondrak
    2005): edit distance over n-gram overlaps with prefix padding and
    per-gram fractional substitution cost; similarity in [0, 1]."""
    sl, tl = len(source), len(target)
    if sl == 0 or tl == 0:
        return 1.0 if sl == tl else 0.0
    if sl < n or tl < n:
        cost = sum(1 for a, b in zip(source, target) if a == b)
        return cost / max(sl, tl)
    sa = "\0" * (n - 1) + source
    p = list(range(sl + 1))
    d = [0.0] * (sl + 1)
    for j in range(1, tl + 1):
        if j < n:
            t_j = "\0" * (n - j) + target[:j]
        else:
            t_j = target[j - n:j]
        d[0] = j
        for i in range(1, sl + 1):
            cost = 0
            tn = n
            for ni in range(n):
                if sa[i - 1 + ni] != t_j[ni]:
                    cost += 1
                elif sa[i - 1 + ni] == "\0":
                    tn -= 1  # discount matches on the padding prefix
            ec = cost / tn
            d[i] = min(d[i - 1] + 1, p[i] + 1, p[i - 1] + ec)
        p, d = d, p
    return 1.0 - p[sl] / max(tl, sl)


def lucene_levenshtein_distance(target: str, other: str) -> float:
    """LuceneLevenshteinDistance (search/spell/LuceneLevenshteinDistance
    .java:47-105): Damerau-Levenshtein (transpositions) normalized by
    min(len) — the distance DirectSpellChecker's shard-merge comparator
    uses; similarity in [0, 1]."""
    n, m = len(target), len(other)
    if n == 0 or m == 0:
        return 1.0 if n == m else 0.0
    d = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n + 1):
        d[i][0] = i
    for j in range(m + 1):
        d[0][j] = j
    for j in range(1, m + 1):
        t_j = other[j - 1]
        for i in range(1, n + 1):
            cost = 0 if target[i - 1] == t_j else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                          d[i - 1][j - 1] + cost)
            if (i > 1 and j > 1 and target[i - 1] == other[j - 2]
                    and target[i - 2] == other[j - 1]):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + cost)
    return 1.0 - d[n][m] / min(m, n)


def blended_infix_suggest(
    suggestions: DataFrame,
    key: str,
    num: int = 10,
    blender_type: str = "linear",
    exponent: float = 2.0,
    text_col: str = "text",
    weight_col: str = "weight",
    all_terms_required: bool = True,
    stopwords=None,
    tie_col: str | None = None,
) -> DataFrame:
    """BlendedInfixSuggester analog (suggest/analyzing/BlendedInfix
    Suggester.java:46-380): infix matching exactly as
    :func:`analyzing_infix_suggest`, but the weight is blended by the
    POSITION of the first matching token in the suggestion text
    (createCoefficient, :317-346: min first-occurrence position over doc
    terms that are matched tokens or start with the prefix token):

    - ``linear``: coef = 1 - 0.10*position (:75, :359-360)
    - ``reciprocal``: coef = 1/(position+1) (:77, :363-364)
    - ``exponential_reciprocal``: 1/(position+1)^exponent (:79, :367-368)

    A hit whose RAW text starts with the raw key keeps coef = 1
    (:257-260).  Weight 0 becomes 1, and |weight| < 1/LINEAR_COEF = 10 is
    scaled by 10 before blending (:264-268); the final score is the Java
    ``(long)`` truncation of weight*coef (:269) — Spark's double→long cast
    truncates toward zero identically.

    Plan: the same single Arrow-batched analyze scan as the plain infix
    lookup plus one vectorized position pass — no shuffle, one
    TakeOrderedAndProject.
    """
    from pyspark.sql.functions import pandas_udf

    from .analysis import (
        ENGLISH_STOP_WORDS, analyze, analyze_with_positions, make_analyze_udf,
    )

    sw = ENGLISH_STOP_WORDS if stopwords is None else stopwords
    toks = analyze(key, sw)
    if not toks:
        return suggestions.limit(0).withColumn("score", F.lit(0).cast("long"))
    last, full = toks[-1], set(toks[:-1])

    @pandas_udf("int")
    def min_pos(texts: pd.Series) -> pd.Series:
        def mp(t):
            ts, ps = analyze_with_positions(
                t if isinstance(t, str) else "", sw)
            best = -1
            for tok, p in zip(ts, ps):
                if tok in full or tok.startswith(last):
                    if best < 0 or p < best:
                        best = p
            return best
        return texts.map(mp)

    df = suggestions.withColumn("_toks", make_analyze_udf(sw)(F.col(text_col)))
    preds = [F.array_contains("_toks", t) for t in sorted(full)]
    preds.append(F.exists("_toks", lambda x: x.startswith(last)))
    cond = preds[0]
    for p in preds[1:]:
        cond = (cond & p) if all_terms_required else (cond | p)
    hits = df.filter(cond).drop("_toks")
    w = F.when(F.col(weight_col) == 0, F.lit(1.0)).otherwise(
        F.col(weight_col).cast("double"))
    w = F.when((w < 10.0) & (w > -10.0), w * 10.0).otherwise(w)
    pos = min_pos(F.col(text_col)).cast("double")
    if blender_type == "linear":
        blend = F.lit(1.0) - F.lit(0.10) * pos
    elif blender_type == "reciprocal":
        blend = F.lit(1.0) / (pos + F.lit(1.0))
    elif blender_type == "exponential_reciprocal":
        blend = F.lit(1.0) / F.pow(pos + F.lit(1.0), F.lit(float(exponent)))
    else:
        raise ValueError(f"unknown blender_type {blender_type!r}")
    coef = F.when(F.col(text_col).startswith(key), F.lit(1.0)).otherwise(blend)
    out = hits.withColumn("score", (w * coef).cast("long"))
    order = [F.col("score").desc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    return out.orderBy(*order).limit(num)


def suggest_stop_filter(tokens, end_offsets, final_offset, stopwords):
    """SuggestStopFilter (suggest/analyzing/SuggestStopFilter.java:40-105):
    stopwords are removed EXCEPT a trailing stopword that ends exactly at
    the end of the input (the user may still be typing it) — that one is
    kept and keyword-marked.  Returns (tokens, keyword_flags)."""
    stops = frozenset(stopwords)
    out, flags = [], []
    for i, t in enumerate(tokens):
        if t not in stops:
            out.append(t)
            flags.append(False)
            continue
        last = i == len(tokens) - 1
        if last and end_offsets[i] == final_offset:
            out.append(t)
            flags.append(True)
    return out, flags


def analyzing_suggest(entries, query, analyzer_tokens, num: int,
                      exact_first: bool = True, preserve_sep: bool = True):
    """AnalyzingSuggester (suggest/analyzing/AnalyzingSuggester.java:
    80-220): completions keyed by the ANALYZED form of each surface (so
    stopword/case differences still match), duplicate surfaces keep their
    max weight, results ordered by weight desc (ties: surface asc), and
    with EXACT_FIRST an exact analyzed match outranks higher-weighted
    longer completions.  ``analyzer_tokens``: str -> token list.  The
    completion table is dictionary-sized (one groupBy at corpus scale)."""
    sep = "\x1f" if preserve_sep else ""
    table: dict[str, dict[str, float]] = {}
    for surface, weight in entries:
        key = sep.join(analyzer_tokens(surface))
        d = table.setdefault(key, {})
        if surface not in d or weight > d[surface]:
            d[surface] = weight
    qkey = sep.join(analyzer_tokens(query))
    exact, rest = [], []
    for key, surfaces in table.items():
        if not key.startswith(qkey):
            continue
        bucket = exact if (exact_first and key == qkey) else rest
        bucket.extend(surfaces.items())
    exact.sort(key=lambda t: (-t[1], t[0]))
    rest.sort(key=lambda t: (-t[1], t[0]))
    return (exact + rest)[:num]


def context_suggest(entries, prefix: str, contexts: dict[str, float] | None,
                    num: int):
    """ContextQuery + ContextSuggestField (suggest/document/ContextQuery.
    java, ContextSuggestField.java): completions carry context labels; a
    lookup filters to the requested contexts and scores weight × context
    boost (TestContextQuery.testSimpleContextQuery).  ``contexts`` None
    matches ALL contexts with boost 1.  ``entries``: (surface, weight,
    context) triples."""
    out = []
    for surface, weight, ctx in entries:
        if not surface.startswith(prefix):
            continue
        if contexts is None:
            out.append((surface, ctx, float(weight)))
        elif ctx in contexts:
            out.append((surface, ctx, float(weight) * contexts[ctx]))
    out.sort(key=lambda t: (-t[2], t[0]))
    return out[:num]


def fst_completion_buckets(entries: DataFrame, buckets: int = 10,
                           key_col: str = "key",
                           weight_col: str = "weight") -> DataFrame:
    """FSTCompletionLookup.build's weight discretization
    (suggest/fst/FSTCompletionLookup.java:194-236): entries sort by
    (weight asc, key asc) and line ``i`` lands in bucket
    ``i * buckets / count`` (integer division) — EXCEPT that an
    equal-weight run shares the bucket computed at its first line
    (:219-226 previousScore/previousBucket).  So per weight group:
    bucket = (rows-with-strictly-smaller-weight) * buckets // count.

    Distributed shape: one small aggregation per distinct weight, a
    driver-side cumulative sum over the (bounded) distinct-weight list,
    and a broadcast-joinable weight→bucket map — the corpus-sized frame
    is touched once."""
    from pyspark.sql.window import Window

    total = entries.count()
    if total == 0:
        return entries.select(F.col(key_col).alias("key"),
                              F.lit(0).alias("bucket")).limit(0)
    # distributed first-line ranks: one aggregation per DISTINCT weight,
    # then a cumulative sum over the (already reduced) weight groups — the
    # window touches distinct weights only, never the corpus-sized frame
    grp = entries.groupBy(weight_col).count()
    cum = Window.orderBy(weight_col).rowsBetween(
        Window.unboundedPreceding, -1)
    mapping = (grp.withColumn(
        "first_line",
        F.coalesce(F.sum("count").over(cum), F.lit(0)).cast("long"))
        .withColumn("bucket",
                    F.expr(f"(first_line * {int(buckets)}) div {int(total)}"))
        .select(weight_col, "bucket"))
    return (entries.join(F.broadcast(mapping), weight_col)
            .select(F.col(key_col).alias("key"), "bucket"))


def fst_completion_lookup(entries: DataFrame, prefix: str, n: int = 10,
                          buckets: int = 10, exact_first: bool = True,
                          key_col: str = "key",
                          weight_col: str = "weight") -> list[tuple[str, int]]:
    """FSTCompletion.lookup with higherWeightsFirst
    (suggest/fst/FSTCompletion.java:165-260): completions whose key starts
    with ``prefix``, ordered bucket DESC then key byte order, the exact
    match pushed to the front when ``exact_first`` (:250-258), value = the
    bucket number (FSTCompletionLookup returns the discretized bucket as
    the LookupResult weight)."""
    bk = fst_completion_buckets(entries, buckets, key_col, weight_col)
    return fst_lookup_from_buckets(bk, prefix, n, exact_first)


def fst_lookup_from_buckets(bk: DataFrame, prefix: str, n: int = 10,
                            exact_first: bool = True) -> list[tuple[str, int]]:
    """The lookup half over an explicit (key, bucket) frame — the
    FSTCompletionBuilder.add(term, bucket) route the reference tests
    drive directly (TestFSTCompletion.java:40-46)."""
    cand = (bk.filter(F.col("key").startswith(prefix))
            .orderBy(F.col("bucket").desc(), F.col("key").asc())
            .limit(n + 1).collect())
    rows = [(r["key"], int(r["bucket"])) for r in cand]
    if exact_first:
        exact = [r for r in rows if r[0] == prefix]
        if not exact:
            probe = bk.filter(F.col("key") == prefix).limit(1).collect()
            exact = [(r["key"], int(r["bucket"])) for r in probe]
        if exact:
            rows = exact[:1] + [r for r in rows if r[0] != prefix]
    return rows[:n]


def regex_suggest(entries: DataFrame, pattern: str, n: int = 10,
                  key_col: str = "key",
                  weight_col: str = "weight") -> DataFrame:
    """RegexCompletionQuery (suggest/document/RegexCompletionQuery.java:
    33-50 — "binary keys ... whose analyzed forms have a PREFIX accepted
    by the regex automaton", scored by suggestion weight): keys with some
    prefix in L(pattern) under the full Lucene RegExp grammar, ordered
    weight desc then key asc, top n.  The automaton's common prefix
    pushes down as a sargable startswith prefilter; the accept-anywhere
    DFA walk runs Arrow-batched."""
    from .regexp import LuceneRegexp

    rx = LuceneRegexp(pattern)

    @F.pandas_udf("boolean")
    def _pm(keys: pd.Series) -> pd.Series:
        return pd.Series(rx.prefix_match_batch(keys.tolist()),
                         index=keys.index)

    out = entries
    pre = rx.common_prefix()
    if pre:
        out = out.filter(F.col(key_col).startswith(pre))
    mn = rx.min_len()
    if mn > 0:
        out = out.filter(F.length(key_col) >= mn)
    return (out.filter(_pm(F.col(key_col)))
            .orderBy(F.col(weight_col).desc(), F.col(key_col).asc())
            .limit(n)
            .select(F.col(key_col).alias("key"),
                    F.col(weight_col).alias("weight")))


def document_dictionary(docs: DataFrame, field: str, weight=None,
                        payload: str | None = None) -> DataFrame:
    """DocumentDictionary / DocumentValueSourceDictionary (suggest/
    DocumentDictionary.java:44-60, DocumentValueSourceDictionary.java:
    43-56): suggestion entries drawn from stored documents — key = the
    text field, weight = a stored numeric field (pass a column name) or
    any computed expression (the LongValuesSource route; pass a Column),
    optional payload column carried through.  Docs with a null key or
    null weight are skipped (the reference returns null entries the
    consuming suggester discards)."""
    wcol = (F.col(weight) if isinstance(weight, str)
            else (weight if weight is not None else F.lit(1)))
    out = docs.select(F.col(field).alias("key"),
                      wcol.cast("long").alias("weight"),
                      *([F.col(payload).alias("payload")] if payload else []))
    return out.filter(F.col("key").isNotNull()
                      & F.col("weight").isNotNull())


def wfst_lookup(entries: DataFrame, prefix: str, n: int = 10,
                exact_first: bool = True, key_col: str = "key",
                weight_col: str = "weight") -> list[tuple[str, int]]:
    """WFSTCompletionLookup.lookup (suggest/fst/WFSTCompletionLookup.java:
    130-190): prefix completions by weight DESC (Util.shortestPaths over
    the cost-encoded FST), ties in key order, with the exact key promoted
    to the front when ``exact_first`` (consuming one result slot, :165-172);
    onlyMorePopular is unsupported in the reference (:137-139) and has no
    analog here."""
    cand = (entries.filter(F.col(key_col).startswith(prefix))
            .orderBy(F.col(weight_col).desc(), F.col(key_col).asc())
            .limit(n + 1).collect())
    rows = [(r[key_col], int(r[weight_col])) for r in cand]
    if exact_first:
        exact = [r for r in rows if r[0] == prefix]
        if not exact:
            probe = entries.filter(F.col(key_col) == prefix).limit(1).collect()
            exact = [(r[key_col], int(r[weight_col])) for r in probe]
        if exact:
            rows = exact[:1] + [r for r in rows if r[0] != prefix]
    return rows[:n]
